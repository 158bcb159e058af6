package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Near-duplicate detection over `documents` (builder prompt: MinHash+LSH,
  * SimHash, n-gram Jaccard — each SQL-oracle-able so the DuckDB gate checks
  * real signatures, not just row counts).
  *
  * Hash contract shared with the oracle: h_i(token) = first 15 hex chars of
  * md5(i + "|" + token) read as a 60-bit integer. Spark computes it with
  * `conv(substr(md5(...)))`, DuckDB with `('0x' || substr(md5(...)))::BIGINT`
  * — identical values, no engine-specific hashing.
  *
  * Scale design: token explosion happens once per query; signatures are
  * fixed-width (16×8 bytes) so the LSH band shuffle moves signatures, never
  * document bodies. Band-bucket join is an equi-join on (band_idx, band_hash)
  * — the classic "shuffle only colliding candidates" MinHash-LSH plan.
  */
object Dedup {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  val NumHashes = 16
  val BandSize = 4 // 4 bands × 4 rows

  /** 28-bit base hash of a shingle: first 7 hex chars of md5. One md5 per
    * shingle instance — the 16 MinHash functions are affine transforms of
    * this base (universal-hash family), not 16 separate md5 calls, which cut
    * the signature stage ~7× at sf0.1.
    */
  private def baseHash(token: Column): Column =
    conv(substring(md5(token), 1, 7), 16, 10).cast(LongType)

  private def baseHashSql(token: String): String =
    s"CAST(('0x' || substring(md5($token), 1, 7)) AS BIGINT)"

  val HashP = 2147483647L // 2^31-1; a*h+b stays < 2^63 for 28-bit h

  private def hashA(i: Int): Long = 2L * i + 1
  private def hashB(i: Int): Long = 7919L * i + 1

  /** MinHash function #i over the base hash (a_i·h + b_i mod p). */
  private def tokenHash(i: Int, token: Column): Column =
    (baseHash(token) * hashA(i) + hashB(i)) % HashP

  private def tokenHashSql(i: Int, token: String): String =
    s"(${baseHashSql(token)} * ${hashA(i)} + ${hashB(i)}) % $HashP"

  /** doc_id × distinct word-3-gram shingle. Shingling (not unigram tokens)
    * is what makes MinHash discriminative: on a small shared vocabulary the
    * unigram token *sets* of any two long docs are nearly identical, which
    * collapses every signature into one LSH bucket and turns the candidate
    * join quadratic. Word order — captured by the 3-gram — is what actually
    * distinguishes documents.
    */
  def docTokensPublic(s: SparkSession, d: String): DataFrame = docTokens(s, d)
  def baseHashPublic(c: Column): Column = baseHash(c)
  def docTokensSqlPublic: String = docTokensSql
  // shared-contract accessors for the incremental-dedup operator/oracle
  def docShingleArraysPublic(s: SparkSession, d: String): DataFrame =
    docShingleArrays(s, d)
  def baseHashSqlPublic(token: String): String = baseHashSql(token)
  def minhashSigSqlPublic: String = minhashSigSql
  def bandHashPublic(b: Int): Column = bandHash(b)
  def bandHashSqlPublic(b: Int): String = bandHashSql(b)

  private def docTokens(s: SparkSession, d: String): DataFrame = {
    // Shingles via zip_with over three shifted slices — NOT via
    // transform(indices, i => ta[i]...ta[i+2]): expressions inside a lambda
    // are re-evaluated per element (no CSE through higher-order functions),
    // which would re-run the regex split ~3×|tokens| times per document.
    // With slices the split tree is referenced a constant number of times
    // per row (~20× faster shingling at sf0.1).
    val ta = split(trim(col("text")), "\\s+")
    val n = size(ta)
    val s1 = slice(ta, lit(1), n - 2)
    val s2 = slice(ta, lit(2), n - 2)
    val s3 = slice(ta, lit(3), n - 2)
    val shingles = when(n >= 3,
      zip_with(zip_with(s1, s2, (a, b) => concat(a, lit(" "), b)), s3,
        (ab, c) => concat(ab, lit(" "), c)))
      .otherwise(array().cast("array<string>"))
    t(s, d, "documents")
      .select(col("doc_id"),
        explode(array_distinct(shingles)).as("token"))
  }

  private val docTokensSql =
    """SELECT doc_id, UNNEST(list_distinct(
      |  list_transform(
      |    range(1, greatest(length(regexp_split_to_array(TRIM(text), '\s+')) - 1, 1)),
      |    i -> regexp_split_to_array(TRIM(text), '\s+')[i] || ' ' ||
      |         regexp_split_to_array(TRIM(text), '\s+')[i+1] || ' ' ||
      |         regexp_split_to_array(TRIM(text), '\s+')[i+2]))) AS token
      |FROM documents""".stripMargin

  /** Distinct-shingle ARRAY per document (no explode): the input shape for
    * whole-signature kernels. Shares the slice/zip_with shingle build with
    * [[docTokens]].
    */
  private def docShingleArrays(s: SparkSession, d: String): DataFrame = {
    val ta = split(trim(col("text")), "\\s+")
    val n = size(ta)
    val s1 = slice(ta, lit(1), n - 2)
    val s2 = slice(ta, lit(2), n - 2)
    val s3 = slice(ta, lit(3), n - 2)
    val shingles = when(n >= 3,
      zip_with(zip_with(s1, s2, (a, b) => concat(a, lit(" "), b)), s3,
        (ab, c) => concat(ab, lit(" "), c)))
      .otherwise(array().cast("array<string>"))
    t(s, d, "documents")
      .select(col("doc_id"), array_distinct(shingles).as("tokens"))
      .filter(size(col("tokens")) > 0)
  }

  /** MinHash signature DataFrame: doc_id, mh0..mh{n-1}.
    *
    * SHUFFLE-FREE: the whole signature comes from one pass over each
    * document's shingle array (graft.functions.MinHashSig, a codegen'd
    * Catalyst kernel) — a narrow map over `documents`. The former
    * explode→groupBy formulation shuffled the exploded token table (~20×
    * the corpus bytes) to compute 16 MIN aggregates; at 100 TB that
    * shuffle WAS the signature stage's cost. Callers that also need the
    * exploded table (the verify stage) pass their STAGED shingle-array
    * DataFrame via `arrays` so the corpus is scanned and shingled once.
    */
  def minhashSignatures(s: SparkSession, d: String,
      arrays: Option[DataFrame] = None): DataFrame = {
    val sig = arrays.getOrElse(docShingleArrays(s, d))
      .select(col("doc_id"),
        graft.functions.MinHashSig.sig(col("tokens"), NumHashes).as("sig"))
    sig.select(col("doc_id") +:
      (0 until NumHashes).map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*)
  }

  /** The explode→groupBy reference formulation (kept for the kernel parity
    * spec; not used by any query).
    */
  private[graft] def minhashSignaturesExploded(s: SparkSession, d: String): DataFrame =
    docTokens(s, d).groupBy("doc_id")
      .agg(
        min(tokenHash(0, col("token"))).as("mh0"),
        (1 until NumHashes).map(i =>
          min(tokenHash(i, col("token"))).as(s"mh$i")): _*)

  private val minhashSigSql: String = {
    val cols = (0 until NumHashes)
      .map(i => s"MIN(${tokenHashSql(i, "token")}) AS mh$i").mkString(",\n    ")
    s"""SELECT doc_id,
       |    $cols
       |FROM ($docTokensSql) GROUP BY doc_id""".stripMargin
  }

  /** LSH band hash for band b over an existing signature row. */
  private def bandHash(b: Int): Column =
    md5(concat_ws(",",
      (0 until BandSize).map(r => col(s"mh${b * BandSize + r}")): _*))

  private def bandHashSql(b: Int): String =
    s"md5(${(0 until BandSize).map(r => s"mh${b * BandSize + r}").mkString(" || ',' || ")})"

  /** Hot-bucket cap: an LSH bucket larger than this is a degenerate bucket
    * (e.g. millions of docs sharing one boilerplate header) whose intra-bucket
    * pair count is quadratic — skip it entirely. Real near-dup clusters are
    * orders of magnitude smaller; the pairs a skipped mega-bucket would have
    * contributed are recovered by the other bands with high probability.
    */
  val MaxBucketSize = 64

  /** Candidate near-duplicate pairs: docs sharing ≥1 LSH band bucket
    * (buckets above [[MaxBucketSize]] are dropped before the self-join).
    */
  def lshCandidates(s: SparkSession, d: String,
      arrays: Option[DataFrame] = None): DataFrame = {
    val sig = minhashSignatures(s, d, arrays)
    val allBands = sig.select(col("doc_id"),
      explode(array((0 until NumHashes / BandSize).map(b =>
        struct(lit(b).as("band_idx"), bandHash(b).as("h"))): _*)).as("bd"))
      .select(col("doc_id"), col("bd.band_idx"), col("bd.h"))
    // Hot buckets are excluded via a BROADCAST blacklist: the per-bucket
    // count partial-aggregates map-side (tiny shuffle), the >cap survivors
    // are bounded by |bands|/cap, and the anti-join adds no shuffle of the
    // band table. A count-over-window here would instead shuffle AND sort
    // the full band table before the self-join.
    val hotBuckets = allBands.groupBy("band_idx", "h")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > MaxBucketSize)
      .select("band_idx", "h")
    val bands = allBands.join(broadcast(hotBuckets), Seq("band_idx", "h"), "left_anti")
    val a = bands.select(col("band_idx"), col("h"), col("doc_id").as("id_a"))
    val b = bands.select(col("band_idx"), col("h"), col("doc_id").as("id_b"))
    a.join(b, Seq("band_idx", "h"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  private val lshCandidatesSql: String = {
    val bandSelects = (0 until NumHashes / BandSize)
      .map(b => s"SELECT doc_id, $b AS band_idx, ${bandHashSql(b)} AS h FROM sig")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH sig AS ($minhashSigSql),
       |all_bands AS (
       |  $bandSelects),
       |bands AS (
       |  SELECT doc_id, band_idx, h FROM (
       |    SELECT doc_id, band_idx, h,
       |           COUNT(*) OVER (PARTITION BY band_idx, h) AS bsz
       |    FROM all_bands) x
       |  WHERE bsz <= $MaxBucketSize)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.h = b.h AND a.doc_id < b.doc_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- MinHash signatures ------------------------------------------------
    QueryDef(
      "q_minhash_sig",
      (s, d) => minhashSignatures(s, d).orderBy("doc_id"),
      Some(s"$minhashSigSql ORDER BY doc_id")),

    // ---- LSH candidate pairs (docs sharing ≥1 band bucket) ----------------
    QueryDef(
      "q_lsh_pairs",
      (s, d) => lshCandidates(s, d).orderBy("id_a", "id_b"),
      Some(s"$lshCandidatesSql\nORDER BY id_a, id_b")),

    // ---- exact n-gram-shingle Jaccard over the LSH candidates (the verify
    // stage of the LSH pipeline). Restricting the exact computation to
    // candidate pairs is what keeps this linear-ish at 100 TB: the all-pairs
    // shingle self-join it replaces was 20x slower already at sf0.1. --------
    QueryDef(
      "q_jaccard_pairs",
      (s, d) => {
        // The COMPACT shingle-array table is staged once and feeds every
        // branch: the signature kernel reads it directly and the verify
        // stage explodes it — one corpus scan, one shingle computation
        // (the regex-split+zip_with is the expensive part; the exploded
        // ~20× token table itself is a cheap narrow explode, NOT worth
        // caching). The set-intersection join runs on the 8-byte shingle
        // hash, not the shingle string — fixed-width shuffle keys instead
        // of ~25-byte text (hash collisions are applied identically on
        // both engines, so the oracle still matches bit-for-bit).
        val arrays = docShingleArrays(s, d)
        val toks = arrays.select(col("doc_id"), explode(col("tokens")).as("token"))
        val hashes = toks
          .select(col("doc_id"), baseHash(col("token")).as("h"))
          .distinct()
        // ROLLING persist (graft.StageCache): a new repeat unpersists the
        // previous generation — without it Bench's repeats stack leaked
        // cache until the block manager thrashes (r13 verdict #3)
        graft.StageCache.roll("q_jaccard_pairs", arrays, hashes)
        val counts = hashes.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
        val cand = lshCandidates(s, d, Some(arrays))
        val a = hashes.select(col("doc_id").as("id_a"), col("h"))
        val b = hashes.select(col("doc_id").as("id_b"), col("h"))
        // cand grows with corpus size (super-linearly under skew) — no
        // broadcast hint; the shuffle join on id keys is the scale-safe plan
        // and AQE may still pick broadcast when cand is genuinely small.
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
          .filter(col("jaccard") > 0.3)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH toks AS (SELECT * FROM ($docTokensSql)),
              |hashes AS (SELECT DISTINCT doc_id, ${baseHashSql("token")} AS h FROM toks),
              |counts AS (SELECT doc_id, COUNT(*) AS n_tok FROM hashes GROUP BY doc_id),
              |cand AS ($lshCandidatesSql),
              |common AS (
              |  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
              |  FROM cand c
              |  JOIN hashes a ON a.doc_id = c.id_a
              |  JOIN hashes b ON b.doc_id = c.id_b AND b.h = a.h
              |  GROUP BY 1, 2)
              |SELECT id_a, id_b,
              |       ROUND(CAST(n_common AS DOUBLE) /
              |             CAST(ca.n_tok + cb.n_tok - n_common AS DOUBLE), 6) AS jaccard
              |FROM common
              |JOIN counts ca ON ca.doc_id = id_a
              |JOIN counts cb ON cb.doc_id = id_b
              |WHERE ROUND(CAST(n_common AS DOUBLE) /
              |            CAST(ca.n_tok + cb.n_tok - n_common AS DOUBLE), 6) > 0.3
              |ORDER BY id_a, id_b""".stripMargin)),

    // ---- winnowing document fingerprints (Schleimer et al. 2003) ----------
    // The rolling-hash fingerprint the builder prompt asks for: hash the
    // ORDERED shingle sequence, take the min over each 4-shingle sliding
    // window, distinct the selected mins per document. Guarantees any
    // shared run of ≥ w+k-1 tokens between two docs shares a fingerprint —
    // the basis of plagiarism/near-dup detection at corpus scale. One
    // explode + one windowed min + one distinct; no joins.
    // Shuffle-free: the whole fingerprint set comes from one kernel pass
    // over the ORDERED shingle array (graft.functions.WinnowFingerprint) —
    // the posexplode → per-doc window-sort formulation this replaces
    // shuffled the full shingle sequence to sort it by position.
    QueryDef(
      "q_fingerprint_winnow",
      (s, d) => {
        orderedShingleArrays(s, d)
          .select(col("doc_id"),
            explode(graft.functions.DocSketches.winnow(col("tokens"), 4)).as("fp"))
          .orderBy("doc_id", "fp")
      },
      Some(
        s"""WITH docs AS (
           |  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS ta
           |  FROM documents),
           |sh AS (
           |  SELECT doc_id, i AS pos,
           |         ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2] AS token
           |  FROM docs, UNNEST(range(1, greatest(length(ta) - 1, 1))) AS r(i)
           |  WHERE length(ta) >= 3),
           |h AS (SELECT doc_id, pos, ${baseHashSql("token")} AS h FROM sh),
           |wm AS (
           |  SELECT doc_id, pos,
           |         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
           |                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
           |  FROM h)
           |SELECT DISTINCT doc_id, fp FROM wm WHERE pos >= 4
           |ORDER BY doc_id, fp""".stripMargin)),

    // ---- SimHash (60-bit, majority-vote per bit over token hashes) --------
    // Production width (a full md5-prefix 60-bit fingerprint in a signed
    // BIGINT), not the 16-bit demo: near-dup Hamming radii only separate
    // real corpora at ≥64-ish bits.
    QueryDef(
      "q_simhash64",
      (s, d) => simhash60(s, d).orderBy("doc_id"),
      Some(s"$simhash60Sql ORDER BY doc_id")),

    // ---- SimHash Hamming near-pairs via band-rotate join -------------------
    // Candidates = docs sharing ≥1 of 4 15-bit bands (pigeonhole: Hamming
    // distance ≤ 3 GUARANTEES a shared band; larger radii are caught
    // probabilistically). Verify = popcount of the XOR ≤ 8. The join is an
    // equi-join on (band_idx, band_value) — fixed-width keys, no all-pairs.
    QueryDef(
      "q_simhash_pairs",
      (s, d) => {
        val sig = simhash60(s, d)
        val bands = sig.select(col("doc_id"), col("simhash60"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band_idx"),
              shiftright(col("simhash60"), b * 15).bitwiseAND(0x7FFF)
                .as("band_val"))): _*)).as("bd"))
          .select(col("doc_id"), col("simhash60"), col("bd.band_idx"), col("bd.band_val"))
        val a = bands.select(col("band_idx"), col("band_val"),
          col("doc_id").as("id_a"), col("simhash60").as("sig_a"))
        val b = bands.select(col("band_idx"), col("band_val"),
          col("doc_id").as("id_b"), col("simhash60").as("sig_b"))
        a.join(b, Seq("band_idx", "band_val"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
          .distinct()
          .filter(col("hamming") <= 8)
          .orderBy("id_a", "id_b")
      },
      Some(
        s"""WITH sig AS ($simhash60Sql),
           |bands AS (
           |  ${(0 until 4).map(bd =>
               s"SELECT doc_id, simhash60, $bd AS band_idx, (simhash60 >> ${bd * 15}) & 32767 AS band_val FROM sig")
               .mkString("\n  UNION ALL\n  ")})
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |       CAST(bit_count(xor(a.simhash60, b.simhash60)) AS INT) AS hamming
           |FROM bands a JOIN bands b
           |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           | AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash60, b.simhash60)) <= 8
           |ORDER BY id_a, id_b""".stripMargin))
  )

  /** 60-bit SimHash signatures: majority vote per bit over the 60-bit
    * md5-prefix hash of each distinct shingle. Shuffle-free via the
    * whole-document kernel (graft.functions.SimHashSig) — the former
    * 60-conditional-SUM groupBy shuffled the exploded token table.
    */
  private def simhash60(s: SparkSession, d: String): DataFrame =
    docShingleArrays(s, d)
      .select(col("doc_id"),
        graft.functions.DocSketches.simhash(col("tokens")).as("simhash60"))

  /** ORDERED shingle arrays, duplicates preserved (winnowing needs the
    * sequence, not the set).
    */
  private def orderedShingleArrays(s: SparkSession, d: String): DataFrame = {
    val ta = split(trim(col("text")), "\\s+")
    val n = size(ta)
    val s1 = slice(ta, lit(1), n - 2)
    val s2 = slice(ta, lit(2), n - 2)
    val s3 = slice(ta, lit(3), n - 2)
    val shingles = when(n >= 3,
      zip_with(zip_with(s1, s2, (a, b) => concat(a, lit(" "), b)), s3,
        (ab, c) => concat(ab, lit(" "), c)))
      .otherwise(array().cast("array<string>"))
    t(s, d, "documents").select(col("doc_id"), shingles.as("tokens"))
  }

  /** Near-dup CLUSTERING — the step between pair detection and canonical
    * selection: verified Jaccard pairs → connected components → one
    * canonical doc (the min id) per cluster. Composes from the
    * `q_jaccard_pairs` parent like the ANN recall query composes from its
    * parents; the oracle computes the same components with a recursive CTE
    * (min over the reachable set = the component min).
    */
  val clusterDefs: Seq[QueryDef] = {
    val jac = defs.find(_.name == "q_jaccard_pairs").get
    Seq(QueryDef(
      "q_dedup_clusters",
      (s, d) => {
        val pairs = jac.query(s, d).select("id_a", "id_b")
        graft.operators.ConnectedComponents.components(pairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
            (col("id") === col("comp")).as("is_canonical"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE pairs AS (${jac.oracle.get}),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              |          UNION SELECT id_b, id_a FROM pairs),
              |nodes AS (SELECT DISTINCT src AS id FROM edges),
              |reach(id, comp) AS (
              |  SELECT id, id FROM nodes
              |  UNION
              |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id)
              |SELECT id AS doc_id, MIN(comp) AS cluster_id,
              |       id = MIN(comp) AS is_canonical
              |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)))
  }

  /** Containment pairs — the ASYMMETRIC near-dup relation Jaccard misses:
    * containment(A→B) = |A∩B| / |A| is high when the smaller document is
    * quoted/embedded inside the larger one even though their symmetric
    * Jaccard is low (a 100-shingle doc inside a 10k-shingle doc scores
    * J≈0.01 but containment≈1.0). Candidates come from the same LSH band
    * join; the verify stage just normalizes by the contained side. Output
    * is directional: (contained, container, containment).
    */
  val containmentDefs: Seq[QueryDef] = Seq(QueryDef(
    "q_containment_pairs",
    (s, d) => {
      // staged compact arrays feed kernel + explode — see q_jaccard_pairs
      val arrays = docShingleArrays(s, d)
      val toks = arrays.select(col("doc_id"), explode(col("tokens")).as("token"))
      val hashes = toks
        .select(col("doc_id"), baseHash(col("token")).as("h"))
        .distinct()
      // ROLLING persist — this query's repeats leaked ~2 corpus-sized
      // cache generations per bench pass and swung 5× round-over-round
      // (r13 verdict #3: cache/GC pressure, now bounded to 1 generation)
      graft.StageCache.roll("q_containment_pairs", arrays, hashes)
      val counts = hashes.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
      val cand = lshCandidates(s, d, Some(arrays))
      val a = hashes.select(col("doc_id").as("id_a"), col("h"))
      val b = hashes.select(col("doc_id").as("id_b"), col("h"))
      val common = cand.join(a, "id_a").join(b, Seq("id_b", "h"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      val scored = common
        .join(counts.withColumnRenamed("doc_id", "id_a")
          .withColumnRenamed("n_tok", "n_a"), "id_a")
        .join(counts.withColumnRenamed("doc_id", "id_b")
          .withColumnRenamed("n_tok", "n_b"), "id_b")
      // emit both directions; keep the strong ones
      val ab = scored.select(col("id_a").as("contained"),
        col("id_b").as("container"),
        round(col("n_common").cast("double") / col("n_a").cast("double"), 6)
          .as("containment"))
      val ba = scored.select(col("id_b").as("contained"),
        col("id_a").as("container"),
        round(col("n_common").cast("double") / col("n_b").cast("double"), 6)
          .as("containment"))
      ab.unionByName(ba)
        .filter(col("containment") >= 0.8)
        .orderBy("contained", "container")
    },
    Some(s"""WITH toks AS (SELECT * FROM ($docTokensSql)),
            |hashes AS (SELECT DISTINCT doc_id, ${baseHashSql("token")} AS h FROM toks),
            |counts AS (SELECT doc_id, COUNT(*) AS n_tok FROM hashes GROUP BY doc_id),
            |cand AS ($lshCandidatesSql),
            |common AS (
            |  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
            |  FROM cand c
            |  JOIN hashes a ON a.doc_id = c.id_a
            |  JOIN hashes b ON b.doc_id = c.id_b AND b.h = a.h
            |  GROUP BY 1, 2),
            |scored AS (
            |  SELECT id_a, id_b, n_common, ca.n_tok AS n_a, cb.n_tok AS n_b
            |  FROM common
            |  JOIN counts ca ON ca.doc_id = id_a
            |  JOIN counts cb ON cb.doc_id = id_b),
            |directional AS (
            |  SELECT id_a AS contained, id_b AS container,
            |         ROUND(CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
            |           AS containment
            |  FROM scored
            |  UNION ALL
            |  SELECT id_b, id_a,
            |         ROUND(CAST(n_common AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
            |  FROM scored)
            |SELECT contained, container, containment FROM directional
            |WHERE containment >= 0.8
            |ORDER BY contained, container""".stripMargin)))

  /** Incremental near-dup detection: the newest ~20% of documents arrive
    * as a batch against a standing index of the rest (operator:
    * [[graft.operators.IncrementalDedup]]). The oracle replays the
    * one-shot pipeline over the grown corpus and keeps only batch-involved
    * pairs — by construction the incremental path must produce EXACTLY the
    * pairs the batch path would (same sketches, same combined hot-bucket
    * cap, same verify), which is the property that makes index reuse safe.
    */
  val incrementalDefs: Seq[QueryDef] = Seq(QueryDef(
    "q_incremental_dedup",
    (s, d) => {
      import graft.operators.IncrementalDedup
      // the shingle build feeds six consumers (bands/hashes/counts for
      // both sides) — stage it once, like the jaccard query's toks table
      val arrays = docShingleArrays(s, d)
      val maxId = t(s, d, "documents").agg(max("doc_id")).head().getLong(0)
      val cutoff = (maxId + 1) * 4 / 5 // integer arithmetic on both engines
      // In production the index sides are parquet reads (cheap to consume
      // twice); built in-query they are explode+distinct pipelines that the
      // verify stage consumes three times (both join sides + counts) — stage
      // them like the jaccard query stages `hashes`, or the corpus re-derives
      // per consumer. ROLLING persist (StageCache): one live generation.
      val index = IncrementalDedup.buildIndex(arrays.filter(col("doc_id") < cutoff))
      val batch = IncrementalDedup.buildIndex(arrays.filter(col("doc_id") >= cutoff))
      graft.StageCache.roll("q_incremental_dedup", arrays,
        index.bands, index.hashes, index.counts,
        batch.bands, batch.hashes, batch.counts)
      IncrementalDedup.newPairs(index, batch).orderBy("id_a", "id_b")
    },
    Some(s"""WITH cand0 AS ($lshCandidatesSql),
            |cutoff AS (SELECT (MAX(doc_id)+1)*4//5 AS c FROM documents),
            |cand AS (SELECT id_a, id_b FROM cand0, cutoff WHERE id_b >= c),
            |toks AS (SELECT * FROM ($docTokensSql)),
            |hashes AS (SELECT DISTINCT doc_id, ${baseHashSql("token")} AS h FROM toks),
            |counts AS (SELECT doc_id, COUNT(*) AS n_tok FROM hashes GROUP BY doc_id),
            |common AS (
            |  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
            |  FROM cand c
            |  JOIN hashes a ON a.doc_id = c.id_a
            |  JOIN hashes b ON b.doc_id = c.id_b AND b.h = a.h
            |  GROUP BY 1, 2)
            |SELECT id_a, id_b,
            |       ROUND(CAST(n_common AS DOUBLE) /
            |             CAST(ca.n_tok + cb.n_tok - n_common AS DOUBLE), 6) AS jaccard
            |FROM common
            |JOIN counts ca ON ca.doc_id = id_a
            |JOIN counts cb ON cb.doc_id = id_b
            |WHERE ROUND(CAST(n_common AS DOUBLE) /
            |            CAST(ca.n_tok + cb.n_tok - n_common AS DOUBLE), 6) > 0.3
            |ORDER BY id_a, id_b""".stripMargin)))

  /** Streaming-vs-batch equivalence for the dedup index: the corpus arrives
    * as micro-batches through the streaming intake
    * ([[graft.streaming.DedupIndexStream.applyBatch]], full commit
    * protocol — per-batch dirs, _COMMIT markers, ledger anti-join), and the
    * FINAL standing index must equal the relational definition of the
    * one-shot index: per doc, the distinct-shingle-hash count and the XOR
    * of the hashes themselves. This is the property that makes online
    * intake safe — a corpus ingested incrementally ends up with byte-equal
    * index state to one ingested at once. (Pair-log exactness per batch is
    * covered by DedupIndexStreamSpec; the hot-bucket cap is time-dependent
    * by design, so pairs are compared per-batch there, not here.)
    */
  val streamEquivDefs: Seq[QueryDef] = Seq(QueryDef(
    "q_dedup_stream_equiv",
    (s, d) => {
      import graft.streaming.DedupIndexStream
      // fresh dirs per invocation: Bench runs every query repeatedly in one
      // session and the index commit protocol is (deliberately) stateful.
      // Rolling (Scratch.fresh) deletes the PREVIOUS invocation's index and
      // pairs trees — corpus-sized parquet state that would otherwise stack
      // up per repeat and GC/FS-thrash neighboring bench series.
      val dir = graft.Scratch.fresh("graft-streamequiv")
      val arrays = docShingleArrays(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val maxId = t(s, d, "documents").agg(max("doc_id")).head().getLong(0)
      // two batches: the second probes a standing index and the final read
      // unions two committed dirs — the full protocol surface. (Deeper
      // batch chains are covered by DedupIndexStreamSpec; per-batch cost
      // is commit-protocol-fixed, so the bench pays per batch.)
      val cut = (maxId + 1) / 2
      try {
        DedupIndexStream.applyBatch(s, arrays.filter(col("doc_id") < cut),
          s"$dir/index", s"$dir/pairs", 0.3, "b0")
        DedupIndexStream.applyBatch(s, arrays.filter(col("doc_id") >= cut),
          s"$dir/index", s"$dir/pairs", 0.3, "b1")
      } finally arrays.unpersist(): Unit
      // compact the two committed batch dirs into one and read THROUGH the
      // merged index: compaction is content-preserving, so the oracle is
      // unchanged — this puts the maintenance path (crash-sweep, size-
      // proportional rewrite, _MERGES supersede commit) inside the
      // correctness gate and the bench, not just the unit spec
      require(DedupIndexStream.compactIndex(s, s"$dir/index") == 2,
        "stream-equiv fixture expected to compact exactly its two batches")
      val idx = DedupIndexStream.loadIndex(s, s"$dir/index").get
      idx.counts.join(
        idx.hashes.groupBy("doc_id")
          .agg(expr("bit_xor(h)").as("hash_xor")), "doc_id")
        .select(col("doc_id"), col("n_tok"), col("hash_xor"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT * FROM ($docTokensSql)),
            |hashes AS (SELECT DISTINCT doc_id, ${baseHashSql("token")} AS h FROM toks)
            |SELECT doc_id, COUNT(*) AS n_tok, bit_xor(h) AS hash_xor
            |FROM hashes GROUP BY doc_id ORDER BY doc_id""".stripMargin)))

  /** Sorted-neighborhood fuzzy-duplicate pairs — the CHARACTER-level member
    * of the dedup family (MinHash/SimHash/containment are token-level and
    * blind to small in-word edits: typos, OCR noise, near-identical
    * boilerplate openings). Classic entity-resolution shape (Hernández &
    * Stolfo, "The merge/purge problem", SIGMOD'95): normalize a bounded
    * key (first [[FuzzyPrefixLen]] chars, lowercased, ASCII-squashed),
    * sort within a block, compare each record to its next
    * [[FuzzyWindow]] neighbors only, verify with exact Levenshtein.
    *
    * Scale: the block key is (source, first [[FuzzyBlockLen]] key chars),
    * so the window sort never sees more than one block — no global sort,
    * no all-pairs join; candidate count is ≤ W·n. Degenerate blocks
    * (boilerplate prefixes shared by millions of docs) are dropped by the
    * same broadcast hot-block cap as the LSH buckets — bounded recall
    * traded for a bounded plan, and the Levenshtein verify runs on
    * bounded [[FuzzyPrefixLen]]-char keys, never document bodies.
    */
  val FuzzyPrefixLen = 24
  val FuzzyBlockLen = 4
  val FuzzyWindow = 8
  val FuzzyMaxDist = 14
  val FuzzyMaxBlock = 256

  private def fuzzyKeys(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("source"), col("doc_id"),
      regexp_replace(lower(substring(col("text"), 1, FuzzyPrefixLen)),
        "[^a-z0-9 ]", "").as("pfx"))

  def fuzzyNeighborPairs(s: SparkSession, d: String): DataFrame =
    neighborPairsPass(fuzzyKeys(s, d), reversed = false)

  /** One sorted-neighborhood pass. `reversed = true` sorts and blocks on the
    * REVERSED key — the standard multi-pass merge/purge move (Hernández &
    * Stolfo §4.2: each pass uses a differently-ordered key so records a
    * prefix typo pushed far apart in one ordering become neighbors in the
    * other). The Levenshtein verify always runs on the original key:
    * edit distance is invariant under reversal of both arguments, so both
    * passes admit pairs by the SAME criterion and a union is coherent.
    */
  private def neighborPairsPass(keys0: DataFrame, reversed: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sk = if (reversed) reverse(col("pfx")) else col("pfx")
    val keys = keys0.withColumn("sk", sk)
      .withColumn("blk", substring(col("sk"), 1, FuzzyBlockLen))
    // same broadcast-blacklist shape as lshCandidates: per-block counts
    // partial-aggregate map-side; >cap survivors are tiny; the anti-join
    // re-shuffles nothing
    val hotBlocks = keys.groupBy("source", "blk")
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") > FuzzyMaxBlock)
      .select("source", "blk")
    val kept = keys.join(broadcast(hotBlocks), Seq("source", "blk"), "left_anti")
    val w = Window.partitionBy("source", "blk").orderBy("sk", "doc_id")
    val withNbrs = kept.select(col("source"), col("doc_id"), col("pfx"),
      array((1 to FuzzyWindow).map(i =>
        struct(lead("pfx", i).over(w).as("p2"),
          lead("doc_id", i).over(w).as("id2"))): _*).as("nbrs"))
    withNbrs.select(col("source"), col("doc_id").as("id_a"),
        col("pfx").as("pfx_a"), explode(col("nbrs")).as("n"))
      .where(col("n.id2").isNotNull)
      .withColumn("dist",
        levenshtein(col("pfx_a"), col("n.p2")).cast(LongType))
      .where(col("dist") <= FuzzyMaxDist)
      .select(col("source"), col("id_a"), col("n.id2").as("id_b"), col("dist"))
  }

  /** Two-pass sorted neighborhood: the forward-key pass unioned with the
    * reversed-key pass, pairs normalized to (least id, greatest id) and
    * deduplicated. Strictly-higher recall than one pass at the SAME plan
    * bound — each pass is O(window·n) with its own hot-block cap, there is
    * still no self-join anywhere, and the union is a cheap distinct on
    * already-small pair sets. This is how merge/purge is actually run in
    * production (multi-pass with independent keys beats one pass with a
    * bigger window at equal cost).
    */
  def fuzzyNeighborPairs2Pass(s: SparkSession, d: String): DataFrame = {
    val keys = fuzzyKeys(s, d)
    val both = neighborPairsPass(keys, reversed = false)
      .unionAll(neighborPairsPass(keys, reversed = true))
    both.select(col("source"),
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("dist"))
      .distinct()
  }

  private val fuzzyNeighborSql: String =
    s"""WITH p AS (
       |  SELECT source, doc_id,
       |    regexp_replace(lower(substring(text, 1, $FuzzyPrefixLen)),
       |                   '[^a-z0-9 ]', '', 'g') AS pfx
       |  FROM documents),
       |b AS (SELECT *, substring(pfx, 1, $FuzzyBlockLen) AS blk FROM p),
       |c AS (SELECT source, blk, COUNT(*) AS n FROM b GROUP BY 1, 2),
       |s AS (
       |  SELECT b.source, b.blk, b.doc_id, b.pfx,
       |    ROW_NUMBER() OVER (PARTITION BY b.source, b.blk
       |                       ORDER BY b.pfx, b.doc_id) AS rn
       |  FROM b JOIN c ON b.source = c.source AND b.blk = c.blk
       |  WHERE c.n <= $FuzzyMaxBlock)
       |SELECT * FROM (
       |  SELECT a.source AS source, a.doc_id AS id_a, z.doc_id AS id_b,
       |         CAST(levenshtein(a.pfx, z.pfx) AS BIGINT) AS dist
       |  FROM s a JOIN s z
       |    ON a.source = z.source AND a.blk = z.blk
       |   AND z.rn BETWEEN a.rn + 1 AND a.rn + $FuzzyWindow
       |  WHERE levenshtein(a.pfx, z.pfx) <= $FuzzyMaxDist) pairs""".stripMargin

  /** Oracle replay of both sorted-neighborhood passes: pass 1 sorts/blocks
    * on the key, pass 2 on its reversal; pairs normalized and unioned,
    * mirroring [[fuzzyNeighborPairs2Pass]] exactly.
    */
  private val fuzzyNeighbor2PassSql: String = {
    def pass(i: Int, sk: String) =
      s"""k$i AS (SELECT source, doc_id, pfx, $sk AS sk FROM p),
         |b$i AS (SELECT *, substring(sk, 1, $FuzzyBlockLen) AS blk FROM k$i),
         |c$i AS (SELECT source, blk, COUNT(*) AS n FROM b$i GROUP BY 1, 2),
         |s$i AS (
         |  SELECT b$i.source, b$i.blk, b$i.doc_id, b$i.pfx,
         |    ROW_NUMBER() OVER (PARTITION BY b$i.source, b$i.blk
         |                       ORDER BY b$i.sk, b$i.doc_id) AS rn
         |  FROM b$i JOIN c$i ON b$i.source = c$i.source AND b$i.blk = c$i.blk
         |  WHERE c$i.n <= $FuzzyMaxBlock)""".stripMargin
    def pairs(i: Int) =
      s"""SELECT a.source AS source, a.doc_id AS id_a, z.doc_id AS id_b,
         |       CAST(levenshtein(a.pfx, z.pfx) AS BIGINT) AS dist
         |FROM s$i a JOIN s$i z
         |  ON a.source = z.source AND a.blk = z.blk
         | AND z.rn BETWEEN a.rn + 1 AND a.rn + $FuzzyWindow
         |WHERE levenshtein(a.pfx, z.pfx) <= $FuzzyMaxDist""".stripMargin
    s"""WITH p AS (
       |  SELECT source, doc_id,
       |    regexp_replace(lower(substring(text, 1, $FuzzyPrefixLen)),
       |                   '[^a-z0-9 ]', '', 'g') AS pfx
       |  FROM documents),
       |${pass(1, "pfx")},
       |${pass(2, "reverse(pfx)")},
       |raw AS (
       |${pairs(1)}
       |UNION ALL
       |${pairs(2)})
       |SELECT DISTINCT source, LEAST(id_a, id_b) AS id_a,
       |       GREATEST(id_a, id_b) AS id_b, dist
       |FROM raw""".stripMargin
  }

  val fuzzyDefs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_fuzzy_neighbors",
      (s, d) => fuzzyNeighborPairs(s, d).orderBy("source", "id_a", "id_b"),
      Some(s"$fuzzyNeighborSql\nORDER BY source, id_a, id_b")),
    QueryDef(
      "q_fuzzy_neighbors_2pass",
      (s, d) => fuzzyNeighborPairs2Pass(s, d).orderBy("source", "id_a", "id_b"),
      Some(s"$fuzzyNeighbor2PassSql\nORDER BY source, id_a, id_b")))

  // lazy: referenced by `defs` above, which initializes first in the object
  private lazy val simhash60Sql: String = {
    val h = s"CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT)"
    val votes = (0 until 60)
      .map(b => s"SUM(CASE WHEN (($h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n    ")
    val sig = (0 until 60)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""SELECT doc_id, CAST($sig AS BIGINT) AS simhash60 FROM (
       |  SELECT doc_id,
       |    $votes
       |  FROM ($docTokensSql) GROUP BY doc_id) votes""".stripMargin
  }
}
