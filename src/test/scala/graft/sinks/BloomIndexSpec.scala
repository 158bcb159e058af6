package graft.sinks

import java.nio.file.Paths

import graft.SparkSpec
import graft.model.ObjectStoreSpec
import graft.operators.JoinPrune
import org.apache.spark.sql.functions._

/** Per-file bloom index: no false negatives ever (the soundness bar), real
  * skips on unclustered layouts zone maps cannot touch, lossless-or-refuse
  * key typing, and budget degradation that weakens but never unsounds.
  */
class BloomIndexSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  /** ids 0..799 HASH-distributed over 8 files: every file's [min, max]
    * window spans nearly the whole key range — the layout zone maps are
    * blind to.
    */
  private def unclustered(tag: String,
      blooms: Seq[String] = Seq("id")): ObjectStoreSpec = {
    val spec = ObjectStoreSpec(path = scratchDir(tag).getAbsolutePath,
      database = "graft_bloom", table = s"t_$tag", bloomColumns = blooms)
    val df = (0L until 800L)
      .map(i => (i, s"s$i", java.time.LocalDate.ofEpochDay(18000 + i),
        java.time.Instant.ofEpochSecond(1600000000L + i * 60)))
      .toDF("id", "name", "d", "ts")
      .repartition(8, col("id"))
    ObjectStoreSink.replaceTable(spark, df, spec)
    spec
  }

  private def live(spec: ObjectStoreSpec) = {
    val p = Paths.get(ObjectStoreSink.snapshots(spec).last.path)
    (p, TableManifest.read(p).get)
  }

  test("point lookup on an unclustered layout: zone maps keep every file, " +
    "blooms skip most; pruned read ≡ full filter") {
    val spec = unclustered("point")
    val (vdir, m) = live(spec)
    // zone maps are provably blind here: every file window contains 400
    val (zmKept, _) = ZoneMap.prune(m,
      Seq(ZoneMap.Bound("id", Some(400L), Some(400L))))
    zmKept.size shouldBe m.files.size
    val (kept, rep) = BloomIndex.prune(vdir, m, "id", Seq(400L)).get
    rep.filesSkipped should be >= 6 // fpp ~0.05% at 16 bits/key
    val pruned = ObjectStoreSink.readSubset(spark, vdir.toString, "parquet",
      kept, m.files.size).where(col("id") === 400L)
    pruned.select("id", "name").collect().map(_.toSeq) shouldBe
      Array(Seq(400L, "s400"))
  }

  test("no false negatives: every present key, probed alone, still finds " +
    "its row through the pruned listing") {
    val spec = unclustered("nofn")
    val (vdir, m) = live(spec)
    for (k <- 0L until 800L by 37L) {
      val (kept, _) = BloomIndex.prune(vdir, m, "id", Seq(k)).get
      val n = ObjectStoreSink.readSubset(spark, vdir.toString, "parquet",
        kept, m.files.size).where(col("id") === k).count()
      withClue(s"key $k:")(n shouldBe 1L)
    }
  }

  test("string, date and timestamp domains probe through their own " +
    "sidecars; absent keys skip everything (modulo fp)") {
    val spec = unclustered("typed", blooms = Seq("id", "name", "d", "ts"))
    val (vdir, m) = live(spec)
    val (kS, _) = BloomIndex.prune(vdir, m, "name", Seq("s123")).get
    ObjectStoreSink.readSubset(spark, vdir.toString, "parquet", kS,
      m.files.size).where(col("name") === "s123").count() shouldBe 1L
    val (kD, _) = BloomIndex.prune(vdir, m, "d",
      Seq(java.time.LocalDate.ofEpochDay(18000 + 55))).get
    ObjectStoreSink.readSubset(spark, vdir.toString, "parquet", kD,
      m.files.size).where(col("id") === 55L).count() shouldBe 1L
    val (kT, _) = BloomIndex.prune(vdir, m, "ts",
      Seq(java.time.Instant.ofEpochSecond(1600000000L + 700 * 60))).get
    ObjectStoreSink.readSubset(spark, vdir.toString, "parquet", kT,
      m.files.size).where(col("id") === 700L).count() shouldBe 1L
    // a key present in NO row: overwhelmingly likely to skip all 8
    val (kAbs, repAbs) = BloomIndex.prune(vdir, m, "id", Seq(424242L)).get
    repAbs.filesSkipped should be >= 7
    ObjectStoreSink.readSubset(spark, vdir.toString, "parquet", kAbs,
      m.files.size).where(col("id") === 424242L).count() shouldBe 0L
  }

  test("refusals: no sidecar, unindexed column, lossy key domains, " +
    "probe-budget cap; null keys drop; empty key set proves everything") {
    val plain = ObjectStoreSpec(path = scratchDir("plain").getAbsolutePath,
      database = "graft_bloom", table = "t_plain") // no bloomColumns
    ObjectStoreSink.replaceTable(spark,
      (0L until 100L).toDF("id").repartition(4), plain)
    val (pv, pm) = live(plain)
    BloomIndex.prune(pv, pm, "id", Seq(5L)) shouldBe None

    val spec = unclustered("refuse")
    val (vdir, m) = live(spec)
    BloomIndex.prune(vdir, m, "name", Seq("x")) shouldBe None // not indexed
    // fractional key vs bigint column: no lossless conversion → refuse
    BloomIndex.prune(vdir, m, "id", Seq(3.5)) shouldBe None
    // one bad key poisons the set (absence proof must test every key)
    BloomIndex.prune(vdir, m, "id", Seq(3L, "x")) shouldBe None
    // probe budget: keys × files beyond the cap refuses
    BloomIndex.pruneAmong(vdir, m.files, "id", (0L until 100L).toSeq,
      m.files.size, 0L, maxProbes = 10L) shouldBe None
    // null keys can never equal anything — dropped; alone they prove
    // every file partner-free
    val (kept, rep) = BloomIndex.prune(vdir, m, "id", Seq(null)).get
    kept shouldBe empty
    rep.filesSkipped shouldBe m.files.size
  }

  test("int-typed column: long keys probe losslessly, out-of-range long " +
    "refuses (lossy), and the index survives a tight byte budget") {
    val spec = ObjectStoreSpec(path = scratchDir("intcol").getAbsolutePath,
      database = "graft_bloom", table = "t_intcol",
      bloomColumns = Seq("k"))
    val df = (0 until 400).map(i => (i, s"p$i")).toDF("k", "payload")
      .repartition(8, col("k"))
    ObjectStoreSink.replaceTable(spark, df, spec)
    val (vdir, m) = live(spec)
    val (kept, rep) = BloomIndex.prune(vdir, m, "k", Seq(77L)).get
    rep.filesSkipped should be >= 6
    ObjectStoreSink.readSubset(spark, vdir.toString, "parquet", kept,
      m.files.size).where(col("k") === 77).count() shouldBe 1L
    // Long.MaxValue cannot be an int value — lossy, refuse wholesale
    BloomIndex.prune(vdir, m, "k", Seq(Long.MaxValue)) shouldBe None
    // budget squeeze: rebuild with ~256 bytes/file (just above the
    // 1024-bit usefulness floor) — fpp degrades, the no-false-negative
    // contract does not
    BloomIndex.build(spark, vdir, "parquet", Seq("k"), m,
      maxIndexBytes = 8L * 256)
    for (k <- 0 until 400 by 41) {
      val (kb, _) = BloomIndex.prune(vdir, m, "k", Seq(k.toLong)).get
      ObjectStoreSink.readSubset(spark, vdir.toString, "parquet", kb,
        m.files.size).where(col("k") === k).count() shouldBe 1L
    }
  }

  test("the byte budget is a HARD cap: decoded index bytes stay within it, " +
    "and a budget that can't fund 1024-bit filters publishes NOTHING") {
    val spec = ObjectStoreSpec(path = scratchDir("cap").getAbsolutePath,
      database = "graft_bloom", table = "t_cap") // no bloomColumns at commit
    val df = (0L until 800L).map(i => (i, s"s$i")).toDF("id", "name")
      .repartition(16, col("id"))
    ObjectStoreSink.replaceTable(spark, df, spec)
    val (vdir, m) = live(spec)
    // adversarial: 16 files × 2 columns at 1 KB total → < 1024 bits each
    // → the build REFUSES wholesale (the old floor would have published
    // 16×2×128 B ≈ 4 KB, 4× over budget)
    BloomIndex.build(spark, vdir, "parquet", Seq("id", "name"), m,
      maxIndexBytes = 1024L)
    BloomIndex.readCol(vdir, "id") shouldBe None
    BloomIndex.readCol(vdir, "name") shouldBe None
    java.nio.file.Files.list(vdir).filter(
      _.getFileName.toString.startsWith("_blooms")).count() shouldBe 0L
    // a modest budget builds, and DECODED bytes (filters + headers) stay
    // within it even though ideal sizing would want far more
    val budget = 16L * 2L * 200L // 6.4 KB for 32 entries
    BloomIndex.build(spark, vdir, "parquet", Seq("id", "name"), m, budget)
    val dec = java.util.Base64.getDecoder
    val total = Seq("id", "name").map { c =>
      val cb = BloomIndex.readCol(vdir, c).get
      cb.files should have size 16
      cb.files.values.map(b64 => dec.decode(b64).length.toLong).sum
    }.sum
    total should be <= budget
    // degraded but sound: a present key still finds its row
    val (kept, _) = BloomIndex.prune(vdir, m, "id", Seq(400L)).get
    ObjectStoreSink.readSubset(spark, vdir.toString, "parquet", kept,
      m.files.size).where(col("id") === 400L).count() shouldBe 1L
  }

  test("shards are per column and probed lazily; a legacy monolithic " +
    "_blooms.json still probes unchanged") {
    val spec = unclustered("shards", blooms = Seq("id", "name"))
    val (vdir, m) = live(spec)
    // one shard per column on disk
    java.nio.file.Files.exists(
      vdir.resolve(BloomIndex.shardName("id"))) shouldBe true
    java.nio.file.Files.exists(
      vdir.resolve(BloomIndex.shardName("name"))) shouldBe true
    java.nio.file.Files.exists(
      vdir.resolve(BloomIndex.SidecarName)) shouldBe false
    // exotic column names get a hashed shard file, recorded true name wins
    BloomIndex.shardName("weird col!") should fullyMatch regex
      "_blooms_[0-9a-f]{16}\\.json".r
    // legacy compat: rewrite the assembled view as a monolithic sidecar,
    // drop the shards — probes must work identically through the old shape
    val sc = BloomIndex.read(vdir).get
    org.json4s.jackson.Serialization.writePretty(sc)(
      org.json4s.DefaultFormats) // formats check only
    graft.sinks.TableManifest.publisher.publish(vdir, BloomIndex.SidecarName,
      org.json4s.jackson.Serialization.writePretty(sc)(org.json4s.DefaultFormats))
    java.nio.file.Files.delete(vdir.resolve(BloomIndex.shardName("id")))
    java.nio.file.Files.delete(vdir.resolve(BloomIndex.shardName("name")))
    val (kept, rep) = BloomIndex.prune(vdir, m, "id", Seq(400L)).get
    rep.filesSkipped should be >= 6
    ObjectStoreSink.readSubset(spark, vdir.toString, "parquet", kept,
      m.files.size).where(col("id") === 400L).count() shouldBe 1L
  }

  test("float/double columns are never indexed (bit-pattern aliasing); " +
    "partition columns are excluded at the sink seam; DECIMALS index " +
    "under their exact (precision, scale) with scale-aliasing probes " +
    "refused (r13)") {
    val spec = ObjectStoreSpec(path = scratchDir("nofloat").getAbsolutePath,
      database = "graft_bloom", table = "t_nofloat",
      partitionBy = Seq("par"),
      bloomColumns = Seq("id", "v", "dec", "par"))
    val df = (0L until 200L)
      .map(i => (i, i / 8.0, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "v", "par")
      .withColumn("dec", col("id").cast("decimal(10,2)"))
      .repartition(4, col("id"))
    ObjectStoreSink.replaceTable(spark, df, spec)
    val (vdir, _) = live(spec)
    val sc = BloomIndex.read(vdir).get
    sc.cols.keySet shouldBe Set("id", "dec")
    sc.cols("id").typ shouldBe "bigint"
    sc.cols("dec").typ shouldBe "decimal(10,2)"
    // a fixed column scale makes hashing deterministic: an exact-scale
    // key probes and prunes; a key that can't rescale exactly refuses
    val m = TableManifest.read(vdir).get
    val key = new java.math.BigDecimal("7.00") // row 7's value, any scale
    val (kept, rep) = BloomIndex.prune(vdir, m, "dec", Seq(key)).get
    rep.filesSkipped should be > 0
    // the surviving set must contain row 7's file (no false negatives)
    spark.read.parquet(kept.map(fe =>
        vdir.resolve(fe.path).toString): _*)
      .where(col("dec") === lit(key)).count() shouldBe 1L
    // 7.005 cannot rescale to scale 2 exactly → the probe refuses wholesale
    BloomIndex.prune(vdir, m, "dec",
      Seq(new java.math.BigDecimal("7.005"))) shouldBe None
  }

  test("JoinPrune third proof strength: a sparse dim over an unclustered " +
    "fact — range and key-set probes keep every file, blooms drop the " +
    "partner-free ones, join identity holds") {
    val spec = unclustered("jpbloom")
    val dim = Seq(3L, 400L, 797L).toDF("pk")
    val (fact, rep) = JoinPrune.factForEquiJoin(spark, spec, dim, "id", "pk")
    rep.keySetUsed shouldBe true
    rep.range.filesSkipped shouldBe 0 // every window spans the keys
    rep.set.get.filesSkipped shouldBe 0 // key-set vs full-range windows
    rep.bloom.get.filesSkipped should be > 0 // only the blooms can prove
    rep.result shouldBe rep.bloom.get
    val joined = fact.join(dim, fact("id") === dim("pk"))
    joined.count() shouldBe 3L
    joined.select("name").as[String].collect().sorted shouldBe
      Array("s3", "s400", "s797")
  }

  test("append keeps the sidecar sound: new files are re-covered by the " +
    "refresh rebuild, old entries stay valid (files are immutable)") {
    val spec0 = unclustered("append")
    val fq = s"${spec0.database}.${spec0.table}"
    val more = (800L until 1000L)
      .map(i => (i, s"s$i", java.time.LocalDate.ofEpochDay(18000 + i),
        java.time.Instant.ofEpochSecond(1600000000L + i * 60)))
      .toDF("id", "name", "d", "ts")
      .repartition(2, col("id"))
    more.write.mode("append").insertInto(fq)
    ObjectStoreSink.refreshManifest(spark, fq, spec0)
    val (vdir, m) = live(spec0)
    // every file of the refreshed manifest is covered again
    val sc = BloomIndex.read(vdir).get
    m.files.map(_.path).toSet.subsetOf(
      sc.cols("id").files.keySet) shouldBe true
    val (kept, _) = BloomIndex.prune(vdir, m, "id", Seq(901L)).get
    ObjectStoreSink.readSubset(spark, vdir.toString, "parquet", kept,
      m.files.size).where(col("id") === 901L).count() shouldBe 1L
  }
}
