package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class DedupIndexStreamSpec extends SparkSpec {

  private val ss = spark
  import ss.implicits._

  private def toks(ids: Range, salt: String): Seq[String] =
    ids.map(i => s"tok$salt$i")

  test("cross-batch near-dups are detected against the standing index") {
    val dir = scratchDir("dedupstream").getAbsolutePath
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Seq[String])]
    val q = DedupIndexStream.start(spark,
      in.toDF().toDF("doc_id", "tokens"),
      s"$dir/index", s"$dir/pairs", s"$dir/ckpt")
    try {
      // batch 1: three distinct docs
      in.addData((1L, toks(0 until 40, "a")), (2L, toks(0 until 40, "b")),
        (3L, toks(0 until 40, "c")))
      q.processAllAvailable()
      // batch 2: doc 10 is a near-copy of doc 1 (39/41 shared tokens)
      in.addData((10L, toks(0 until 39, "a") ++ Seq("x1", "x2")))
      q.processAllAvailable()

      val pairs = DedupIndexStream.loadPairs(spark, s"$dir/pairs")
      pairs.filter(col("id_a") === 1L && col("id_b") === 10L)
        .count() shouldBe 1
      // unrelated docs never pair
      pairs.filter(col("id_b") === 2L or col("id_b") === 3L)
        .count() shouldBe 0
      // index holds all four docs exactly once
      DedupIndexStream.loadIndex(spark, s"$dir/index").get
        .counts.select("doc_id").as[Long].collect().sorted shouldBe
        Seq(1L, 2L, 3L, 10L)
    } finally q.stop()
  }

  test("batch doc with an id BELOW an indexed near-dup's id still pairs") {
    // regression for the one-orientation candidate join: ids carry no
    // arrival-order contract, so a later batch may hold the smaller id
    val dir = scratchDir("deduporder").getAbsolutePath
    DedupIndexStream.applyBatch(spark,
      Seq((500L, toks(0 until 30, "q"))).toDF("doc_id", "tokens"),
      s"$dir/index", s"$dir/pairs", 0.3, "b0")
    DedupIndexStream.applyBatch(spark,
      Seq((4L, toks(0 until 30, "q"))).toDF("doc_id", "tokens"),
      s"$dir/index", s"$dir/pairs", 0.3, "b1")
    val got = DedupIndexStream.loadPairs(spark, s"$dir/pairs")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    got shouldBe Seq((4L, 500L))
  }

  test("replayed batch key is a no-op (index and pair log exactly-once)") {
    val dir = scratchDir("dedupreplay").getAbsolutePath
    val batch = Seq((5L, toks(0 until 30, "z")), (6L, toks(0 until 30, "z")))
      .toDF("doc_id", "tokens")
    DedupIndexStream.applyBatch(spark, batch, s"$dir/index", s"$dir/pairs",
      0.3, "b0")
    DedupIndexStream.applyBatch(spark, batch, s"$dir/index", s"$dir/pairs",
      0.3, "b0")
    val idx = DedupIndexStream.loadIndex(spark, s"$dir/index").get
    idx.counts.count() shouldBe 2
    DedupIndexStream.loadPairs(spark, s"$dir/pairs")
      .filter(col("id_a") === 5L && col("id_b") === 6L).count() shouldBe 1
  }

  test("docs redelivered under a NEW batch key are dropped by the ledger") {
    val dir = scratchDir("dedupredeliver").getAbsolutePath
    val batch = Seq((5L, toks(0 until 30, "z")), (6L, toks(0 until 30, "z")))
      .toDF("doc_id", "tokens")
    DedupIndexStream.applyBatch(spark, batch, s"$dir/index", s"$dir/pairs",
      0.3, "b0")
    DedupIndexStream.applyBatch(spark, batch, s"$dir/index", s"$dir/pairs",
      0.3, "b1")
    val idx = DedupIndexStream.loadIndex(spark, s"$dir/index").get
    idx.counts.count() shouldBe 2
    idx.hashes.count() shouldBe 60 // 30 distinct hashes per doc, once each
    DedupIndexStream.loadPairs(spark, s"$dir/pairs")
      .filter(col("id_a") === 5L && col("id_b") === 6L).count() shouldBe 1
  }

  test("crash between index writes leaves no partial batch visible; replay heals") {
    val dir = scratchDir("dedupcrash").getAbsolutePath
    val batch = Seq((7L, toks(0 until 30, "w")), (8L, toks(0 until 30, "w")))
      .toDF("doc_id", "tokens")
    // simulate a crash AFTER the bands write but BEFORE counts + _COMMIT:
    // hand-write a partial uncommitted batch directory
    val partial = Paths.get(s"$dir/index/batches/b0")
    graft.operators.IncrementalDedup.buildIndex(batch)
      .bands.write.parquet(partial.resolve("bands").toString)
    // no _COMMIT → the partial batch must be invisible to readers
    DedupIndexStream.loadIndex(spark, s"$dir/index") shouldBe None
    // replay of the same batch key: partial state is discarded, rewritten
    DedupIndexStream.applyBatch(spark, batch, s"$dir/index", s"$dir/pairs",
      0.3, "b0")
    val idx = DedupIndexStream.loadIndex(spark, s"$dir/index").get
    idx.counts.count() shouldBe 2
    // bands hold each doc exactly once per band — no duplicated rows from
    // the crashed attempt
    idx.bands.groupBy("doc_id", "band_idx").count()
      .filter(col("count") > 1).count() shouldBe 0
    Files.exists(partial.resolve("_COMMIT")) shouldBe true
  }

  test("crash after pair write but before commit does not duplicate pairs") {
    val dir = scratchDir("dedupcrashpairs").getAbsolutePath
    val first = Seq((1L, toks(0 until 30, "p"))).toDF("doc_id", "tokens")
    DedupIndexStream.applyBatch(spark, first, s"$dir/index", s"$dir/pairs",
      0.3, "b0")
    val second = Seq((2L, toks(0 until 30, "p"))).toDF("doc_id", "tokens")
    DedupIndexStream.applyBatch(spark, second, s"$dir/index", s"$dir/pairs",
      0.3, "b1")
    // simulate the crash: pairs for b1 landed but the index commit did not
    DedupIndexStream.loadPairs(spark, s"$dir/pairs").count() shouldBe 1
    val b1 = Paths.get(s"$dir/index/batches/b1")
    Files.delete(b1.resolve("_COMMIT"))
    // replay b1: the pair partition is OVERWRITTEN, not appended
    DedupIndexStream.applyBatch(spark, second, s"$dir/index", s"$dir/pairs",
      0.3, "b1")
    DedupIndexStream.loadPairs(spark, s"$dir/pairs").count() shouldBe 1
  }

  test("same-id re-delivery within one batch indexes the doc once") {
    val dir = scratchDir("dedupintra").getAbsolutePath
    val batch = Seq((7L, toks(0 until 30, "y")), (7L, toks(0 until 30, "y")))
      .toDF("doc_id", "tokens")
    DedupIndexStream.applyBatch(spark, batch, s"$dir/index", s"$dir/pairs",
      0.3, "b0")
    val idx = DedupIndexStream.loadIndex(spark, s"$dir/index").get
    idx.counts.count() shouldBe 1
    idx.counts.select("n_tok")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .head() shouldBe 30L
  }

  test("compactIndex merges committed batches into one, content-identical") {
    val dir = scratchDir("dedupcompact").getAbsolutePath
    for (b <- 0 until 4)
      DedupIndexStream.applyBatch(spark,
        Seq((b * 10L, toks(0 until 30, s"s$b"))).toDF("doc_id", "tokens"),
        s"$dir/index", s"$dir/pairs", 0.3, s"b$b")
    val before = DedupIndexStream.loadIndex(spark, s"$dir/index").get
    val beforeCounts = before.counts.orderBy("doc_id").collect().toSeq
    val beforeBands = before.bands.count()

    // tiny targetPartitionBytes: the rewrite must fan out with input size —
    // the corpus-sized bands/counts tables may never funnel into one task
    DedupIndexStream.compactIndex(spark, s"$dir/index",
      targetPartitionBytes = 1024L) shouldBe 4
    val base = Paths.get(s"$dir/index", "batches")
    import scala.jdk.CollectionConverters._
    val dirs = Files.list(base).iterator().asScala.toList
    dirs.size shouldBe 1 // originals retired
    for (sub <- Seq("bands", "hashes", "counts")) {
      val parts = Files.list(dirs.head.resolve(sub)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      withClue(s"$sub part files:") { parts should be > 1 }
    }

    val after = DedupIndexStream.loadIndex(spark, s"$dir/index").get
    after.counts.orderBy("doc_id").collect().toSeq shouldBe beforeCounts
    after.bands.count() shouldBe beforeBands

    // the stream keeps working against the compacted index
    DedupIndexStream.applyBatch(spark,
      Seq((99L, toks(0 until 30, "s0"))).toDF("doc_id", "tokens"),
      s"$dir/index", s"$dir/pairs", 0.3, "b9")
    DedupIndexStream.loadPairs(spark, s"$dir/pairs")
      .filter(col("id_a") === 0L && col("id_b") === 99L).count() shouldBe 1
    // re-compaction folds the new batch in too
    DedupIndexStream.compactIndex(spark, s"$dir/index") shouldBe 2
    DedupIndexStream.loadIndex(spark, s"$dir/index").get
      .counts.select("doc_id").as[Long].collect().sorted shouldBe
      Seq(0L, 10L, 20L, 30L, 99L)
  }

  test("batch dirs with an extra buckets/ table still load, probe, and compact to three tables") {
    val dir = scratchDir("dedupbucketsdir").getAbsolutePath
    DedupIndexStream.applyBatch(spark,
      Seq((1L, toks(0 until 30, "bk"))).toDF("doc_id", "tokens"),
      s"$dir/index", s"$dir/pairs", 0.3, "b0")
    // the per-bucket count table earlier writers stored beside the others
    val b0 = s"$dir/index/batches/b0"
    spark.read.parquet(s"$b0/bands").groupBy("band_idx", "h")
      .agg(count(lit(1)).as("n")).write.parquet(s"$b0/buckets")
    DedupIndexStream.loadIndex(spark, s"$dir/index").get
      .counts.select("doc_id").as[Long].collect().toSeq shouldBe Seq(1L)
    DedupIndexStream.applyBatch(spark,
      Seq((2L, toks(0 until 30, "bk"))).toDF("doc_id", "tokens"),
      s"$dir/index", s"$dir/pairs", 0.3, "b1")
    DedupIndexStream.loadPairs(spark, s"$dir/pairs")
      .filter(col("id_a") === 1L && col("id_b") === 2L).count() shouldBe 1
    Files.exists(Paths.get(s"$dir/index/batches/b1/buckets")) shouldBe false
    DedupIndexStream.compactIndex(spark, s"$dir/index") shouldBe 2
    import scala.jdk.CollectionConverters._
    val dirs = Files.list(Paths.get(s"$dir/index", "batches"))
      .iterator().asScala.toList
    dirs.size shouldBe 1
    Files.list(dirs.head).iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toList.sorted shouldBe
      Seq("bands", "counts", "hashes")
  }

  test("compactIndex crash windows: before-marker keeps originals; after-marker excludes them") {
    val dir = scratchDir("dedupcrash2").getAbsolutePath
    for (b <- 0 until 3)
      DedupIndexStream.applyBatch(spark,
        Seq((b + 1L, toks(0 until 25, s"t$b"))).toDF("doc_id", "tokens"),
        s"$dir/index", s"$dir/pairs", 0.3, s"b$b")
    val base = Paths.get(s"$dir/index", "batches")

    // crash BEFORE the merged dir commits: remnant without _COMMIT
    val remnant = base.resolve("compact-crashed")
    Files.createDirectories(remnant)
    Files.writeString(remnant.resolve("_MERGES"), "b0\nb1\nb2")
    DedupIndexStream.loadIndex(spark, s"$dir/index").get
      .counts.select("doc_id").as[Long].collect().sorted shouldBe
      Seq(1L, 2L, 3L) // originals still served; remnant invisible

    // crash AFTER the marker but before input deletion: do a real compact,
    // then resurrect a fake original - the supersede list must exclude it
    import scala.jdk.CollectionConverters._
    Files.walk(remnant).iterator().asScala.toList.reverse.foreach(Files.delete)
    DedupIndexStream.compactIndex(spark, s"$dir/index") shouldBe 3
    val ghost = base.resolve("b0")
    Files.createDirectories(ghost)
    Seq((77L, toks(0 until 25, "ghost"))).toDF("doc_id", "tokens")
      .write.parquet(ghost.resolve("hashes").toString)
    Files.write(ghost.resolve("_COMMIT"), Array.emptyByteArray)
    DedupIndexStream.loadIndex(spark, s"$dir/index").get
      .counts.select("doc_id").as[Long].collect().sorted shouldBe
      Seq(1L, 2L, 3L) // ghost b0 is superseded by the compact dir's list
  }

  test("_MERGES carries forward: crash leftovers never resurrect through re-compaction") {
    val dir = scratchDir("dedupcarry").getAbsolutePath
    val base = Paths.get(s"$dir/index", "batches")
    for (b <- 0 until 3)
      DedupIndexStream.applyBatch(spark,
        Seq((b + 1L, toks(0 until 25, s"c$b"))).toDF("doc_id", "tokens"),
        s"$dir/index", s"$dir/pairs", 0.3, s"b$b")
    // crash-window simulation: compact, then resurrect input b1 as if the
    // input deletion never ran
    DedupIndexStream.compactIndex(spark, s"$dir/index") shouldBe 3
    val ghost = base.resolve("b1")
    Files.createDirectories(ghost)
    Seq((2L, toks(0 until 25, "c1"))).toDF("doc_id", "tokens")
      .write.parquet(ghost.resolve("hashes").toString)
    Files.write(ghost.resolve("_COMMIT"), Array.emptyByteArray)
    // new work arrives; a SECOND compaction deletes the first compact dir -
    // its _MERGES must carry b1's name forward or the ghost resurrects
    DedupIndexStream.applyBatch(spark,
      Seq((9L, toks(0 until 25, "c9"))).toDF("doc_id", "tokens"),
      s"$dir/index", s"$dir/pairs", 0.3, "b8")
    DedupIndexStream.compactIndex(spark, s"$dir/index") shouldBe 2
    DedupIndexStream.loadIndex(spark, s"$dir/index").get
      .counts.select("doc_id").as[Long].collect().sorted shouldBe
      Seq(1L, 2L, 3L, 9L) // doc 2 exactly once - ghost swept/excluded
  }

  test("replay of a compacted batch key with IDENTICAL content is a no-op") {
    // the legitimate crash window: batch b1 commits, compactIndex merges it,
    // the driver dies BEFORE the streaming commit log records the epoch —
    // restart replays b1 with the same data; that is fully applied, not a
    // reset checkpoint, and the stream must keep making progress
    val dir = scratchDir("dedupreplaycompact").getAbsolutePath
    val batches = (0 until 2).map(b =>
      Seq((b + 1L, toks(0 until 25, s"rc$b"))).toDF("doc_id", "tokens"))
    batches.zipWithIndex.foreach { case (df, b) =>
      DedupIndexStream.applyBatch(spark, df, s"$dir/index", s"$dir/pairs",
        0.3, s"b$b")
    }
    DedupIndexStream.compactIndex(spark, s"$dir/index") shouldBe 2
    // same key, same content → no-op (content fingerprint matches _MERGES)
    DedupIndexStream.applyBatch(spark, batches(1), s"$dir/index",
      s"$dir/pairs", 0.3, "b1")
    DedupIndexStream.loadIndex(spark, s"$dir/index").get
      .counts.select("doc_id").as[Long].collect().sorted shouldBe Seq(1L, 2L)
    // ...and the stream continues normally afterwards
    DedupIndexStream.applyBatch(spark,
      Seq((9L, toks(0 until 25, "rc9"))).toDF("doc_id", "tokens"),
      s"$dir/index", s"$dir/pairs", 0.3, "b2")
    DedupIndexStream.loadIndex(spark, s"$dir/index").get
      .counts.count() shouldBe 3
  }

  test("committed batch key replayed with DIFFERENT content fails loudly") {
    val dir = scratchDir("dedupmarkerfp").getAbsolutePath
    DedupIndexStream.applyBatch(spark,
      Seq((1L, toks(0 until 25, "m0"))).toDF("doc_id", "tokens"),
      s"$dir/index", s"$dir/pairs", 0.3, "b0")
    val e = intercept[IllegalStateException] {
      DedupIndexStream.applyBatch(spark,
        Seq((50L, toks(0 until 25, "new"))).toDF("doc_id", "tokens"),
        s"$dir/index", s"$dir/pairs", 0.3, "b0")
    }
    e.getMessage should include ("checkpoint")
  }

  test("uncommitted compact-* crash leftovers are swept by the next compaction") {
    val dir = scratchDir("dedupsweep").getAbsolutePath
    val base = Paths.get(s"$dir/index", "batches")
    for (b <- 0 until 2)
      DedupIndexStream.applyBatch(spark,
        Seq((b + 1L, toks(0 until 25, s"sw$b"))).toDF("doc_id", "tokens"),
        s"$dir/index", s"$dir/pairs", 0.3, s"b$b")
    // a compaction attempt that died before its _COMMIT: new batches have
    // arrived since, so the next attempt's target NAME differs and only
    // the sweep can ever reclaim this directory
    val leftover = base.resolve("compact-b0-9")
    Files.createDirectories(leftover.resolve("bands"))
    Files.writeString(leftover.resolve("bands").resolve("junk"), "x")
    DedupIndexStream.compactIndex(spark, s"$dir/index") shouldBe 2
    Files.exists(leftover) shouldBe false
    // reserved prefix: a stream cannot name a batch like a compaction dir
    an[IllegalArgumentException] should be thrownBy
      DedupIndexStream.applyBatch(spark,
        Seq((9L, toks(0 until 25, "x"))).toDF("doc_id", "tokens"),
        s"$dir/index", s"$dir/pairs", 0.3, "compact-evil")
  }

  test("replayed key with same doc ids but DIFFERENT tokens fails loudly") {
    // the v2 fingerprint folds token content in: a reset checkpoint that
    // reuses a committed key with the same id set but new documents must
    // not be silently accepted as an already-applied replay
    val dir = scratchDir("dedupfpcontent").getAbsolutePath
    DedupIndexStream.applyBatch(spark,
      Seq((1L, toks(0 until 25, "v2a"))).toDF("doc_id", "tokens"),
      s"$dir/index", s"$dir/pairs", 0.3, "b0")
    val e = intercept[IllegalStateException] {
      DedupIndexStream.applyBatch(spark,
        Seq((1L, toks(0 until 25, "OTHER"))).toDF("doc_id", "tokens"),
        s"$dir/index", s"$dir/pairs", 0.3, "b0")
    }
    e.getMessage should include ("checkpoint")
  }

  test("legacy v1 (doc-id-only) markers still verify under v1 semantics") {
    val dir = scratchDir("dedupfpv1").getAbsolutePath
    val batch = Seq((1L, toks(0 until 25, "v1"))).toDF("doc_id", "tokens")
    DedupIndexStream.applyBatch(spark, batch, s"$dir/index", s"$dir/pairs",
      0.3, "b0")
    // rewrite the marker as an old index would have written it
    val xor = batch.agg(expr("bit_xor(xxhash64(doc_id))")).head().getLong(0)
    val marker = Paths.get(s"$dir/index/batches/b0/_COMMIT")
    Files.writeString(marker, s"v1 1 $xor")
    // replay with the same ids but different tokens: v1 never recorded
    // content, so this is accepted as a replay (documented legacy behavior)
    DedupIndexStream.applyBatch(spark,
      Seq((1L, toks(0 until 25, "CHANGED"))).toDF("doc_id", "tokens"),
      s"$dir/index", s"$dir/pairs", 0.3, "b0")
    DedupIndexStream.loadIndex(spark, s"$dir/index").get
      .counts.count() shouldBe 1
    // ...but a different ID SET under the key still fails, as before
    an[IllegalStateException] should be thrownBy
      DedupIndexStream.applyBatch(spark,
        Seq((9L, toks(0 until 25, "v1"))).toDF("doc_id", "tokens"),
        s"$dir/index", s"$dir/pairs", 0.3, "b0")
  }

  test("a batch key a compaction superseded fails loudly (reset checkpoint)") {
    val dir = scratchDir("dedupreset").getAbsolutePath
    for (b <- 0 until 2)
      DedupIndexStream.applyBatch(spark,
        Seq((b + 1L, toks(0 until 25, s"r$b"))).toDF("doc_id", "tokens"),
        s"$dir/index", s"$dir/pairs", 0.3, s"b$b")
    DedupIndexStream.compactIndex(spark, s"$dir/index") shouldBe 2
    // checkpoint reset: batch ids restart at b0 with NEW documents - the
    // index would silently exclude them forever; it must refuse instead
    val e = intercept[IllegalStateException] {
      DedupIndexStream.applyBatch(spark,
        Seq((50L, toks(0 until 25, "new"))).toDF("doc_id", "tokens"),
        s"$dir/index", s"$dir/pairs", 0.3, "b0")
    }
    e.getMessage should include ("checkpoint")
  }
}
