package graft.operators

import graft.SparkSpec
import graft.queries.Dedup
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkSpec {

  private def arrays = Dedup.docShingleArraysPublic(spark, sfDir)

  test("incremental pairs == batch-path pairs restricted to batch-involved") {
    val cutoff = 400L
    val index = IncrementalDedup.buildIndex(arrays.filter(col("doc_id") < cutoff))
    val batch = IncrementalDedup.buildIndex(arrays.filter(col("doc_id") >= cutoff))
    val inc = IncrementalDedup.newPairs(index, batch)
      .select("id_a", "id_b", "jaccard")

    // the one-shot pipeline over the full corpus, batch-involved pairs only
    val full = graft.SparkEntry.queries("q_jaccard_pairs")(spark, sfDir)
      .filter(col("id_b") >= cutoff)
      .select("id_a", "id_b", "jaccard")

    inc.except(full).count() shouldBe 0
    full.except(inc).count() shouldBe 0
    inc.count() should be > 0L // the slice must actually exercise the path
  }

  test("old-vs-old pairs are never produced") {
    val cutoff = 400L
    val index = IncrementalDedup.buildIndex(arrays.filter(col("doc_id") < cutoff))
    val batch = IncrementalDedup.buildIndex(arrays.filter(col("doc_id") >= cutoff))
    IncrementalDedup.newPairs(index, batch)
      .filter(col("id_b") < cutoff).count() shouldBe 0
  }

  test("bucket that goes hot only after the batch arrives is capped on both paths") {
    val ss = spark
    import ss.implicits._
    // five docs with identical token sets share every LSH band bucket;
    // two sit in the index, three arrive in the batch → combined bucket
    // population 5 exceeds cap 4 only after the batch lands
    def docs(ids: Seq[Long]) =
      ids.map(i => (i, Seq.fill(30)("shared token block").zipWithIndex
        .map { case (t, j) => s"$t $j" })).toDF("doc_id", "tokens")
    val index = IncrementalDedup.buildIndex(docs(Seq(1L, 2L)))
    val batch = IncrementalDedup.buildIndex(docs(Seq(10L, 11L, 12L)))
    val capped = IncrementalDedup.newPairs(index, batch, maxBucketSize = 4)
    capped.count() shouldBe 0 // every bucket degenerate → all candidates dropped
    val uncapped = IncrementalDedup.newPairs(index, batch, maxBucketSize = 64)
    // all batch-involved pairs of the 5 identical docs: 2*3 old-new + 3 new-new
    uncapped.count() shouldBe 9
  }

  test("batch doc with SMALLER id than its indexed near-dup still pairs") {
    // regression: the old-vs-new join has one orientation (old→a, new→b);
    // an id_a < id_b filter there silently dropped every pair whose
    // indexed id exceeded the batch id. Canonicalization must use
    // least/greatest — doc ids carry no arrival-order contract.
    val ss = spark
    import ss.implicits._
    def docs(ids: Seq[Long]) =
      ids.map(i => (i, (0 until 30).map(j => s"tok shared $j")))
        .toDF("doc_id", "tokens")
    val index = IncrementalDedup.buildIndex(docs(Seq(100L)))
    val batch = IncrementalDedup.buildIndex(docs(Seq(10L)))
    val pairs = IncrementalDedup.newPairs(index, batch)
      .select("id_a", "id_b").collect()
    pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      Seq((10L, 100L))
  }

  test("a non-positive threshold fails loudly, at the probe and at stream submission") {
    val ss = spark
    import ss.implicits._
    val idx = IncrementalDedup.buildIndex(
      Seq((1L, Seq("a", "b", "c"))).toDF("doc_id", "tokens"))
    an[IllegalArgumentException] should be thrownBy
      IncrementalDedup.newPairs(idx, idx, threshold = 0.0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[String])]
    val dir = scratchDir("dedupthreshold").getAbsolutePath
    an[IllegalArgumentException] should be thrownBy
      graft.streaming.DedupIndexStream.start(spark,
        in.toDF().toDF("doc_id", "tokens"), s"$dir/index", s"$dir/pairs",
        s"$dir/ckpt", threshold = 0.0)
  }

  test("index round-trips through parquet (persistable state)") {
    val cutoff = 400L
    val dir = scratchDir("dedupidx").getAbsolutePath
    val built = IncrementalDedup.buildIndex(arrays.filter(col("doc_id") < cutoff))
    built.bands.write.mode("overwrite").parquet(s"$dir/bands")
    built.hashes.write.mode("overwrite").parquet(s"$dir/hashes")
    built.counts.write.mode("overwrite").parquet(s"$dir/counts")
    val reloaded = IncrementalDedup.DedupIndex(
      spark.read.parquet(s"$dir/bands"),
      spark.read.parquet(s"$dir/hashes"),
      spark.read.parquet(s"$dir/counts"))
    val batch = IncrementalDedup.buildIndex(arrays.filter(col("doc_id") >= cutoff))
    val a = IncrementalDedup.newPairs(built, batch).select("id_a", "id_b")
    val b = IncrementalDedup.newPairs(reloaded, batch).select("id_a", "id_b")
    a.except(b).count() shouldBe 0
    b.except(a).count() shouldBe 0
  }
}
