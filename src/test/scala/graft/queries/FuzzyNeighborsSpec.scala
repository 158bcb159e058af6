package graft.queries

import graft.SparkSpec

/** Semantics of the sorted-neighborhood fuzzy-duplicate operator
  * (Dedup.fuzzyNeighborPairs) on controlled corpora: the bounded
  * comparison window, the verify threshold, the hot-block cap, key
  * normalization, and the block-boundary recall trade. The oracle gate
  * owns cross-engine agreement; this spec pins the operator's edges.
  */
class FuzzyNeighborsSpec extends SparkSpec {

  private val ss = spark
  import ss.implicits._

  /** Write (doc_id, source, text) rows as `<dir>/documents.parquet` and
    * return the dir Dedup can load from.
    */
  private def corpus(tag: String, rows: Seq[(Long, String, String)]): String = {
    val dir = scratchDir(tag).getAbsolutePath
    rows.toDF("doc_id", "source", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def pairs(dir: String) =
    Dedup.fuzzyNeighborPairs(spark, dir).orderBy("id_a", "id_b")
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSeq

  test("comparison is bounded by the window: identical keys farther than " +
    "FuzzyWindow ranks apart are never paired") {
    // 10 identical-prefix docs in one block; rank distance 9 > window 8,
    // so (1,10) is the only in-block pair missing
    val dir = corpus("fzwin",
      (1L to 10L).map(i => (i, "web", "same exact opening text here")))
    val got = pairs(dir)
    got.foreach { case (a, b, d) =>
      d shouldBe 0L
      (b - a) should be <= Dedup.FuzzyWindow.toLong
    }
    got.size shouldBe (1 to 9).map(i => math.min(Dedup.FuzzyWindow, 10 - i)).sum
    got.contains((1L, 10L, 0L)) shouldBe false
  }

  test("the verify threshold is exact: dist == FuzzyMaxDist survives, " +
    "FuzzyMaxDist + 1 does not") {
    // prefixes share the 4-char block key; tails differ by exactly d
    // substitutions (same length → levenshtein == hamming here)
    val base = "abcd" + "0" * (Dedup.FuzzyPrefixLen - 4)
    def edited(d: Int) = "abcd" + "1" * d + "0" * (Dedup.FuzzyPrefixLen - 4 - d)
    val atDir = corpus("fzat",
      Seq((1L, "web", base), (2L, "web", edited(Dedup.FuzzyMaxDist))))
    pairs(atDir) shouldBe Seq((1L, 2L, Dedup.FuzzyMaxDist.toLong))
    val overDir = corpus("fzover",
      Seq((1L, "web", base), (2L, "web", edited(Dedup.FuzzyMaxDist + 1))))
    pairs(overDir) shouldBe empty
  }

  test("a block over the cap is dropped whole; sibling blocks still pair") {
    val hot = (1L to (Dedup.FuzzyMaxBlock + 1).toLong)
      .map(i => (i, "web", "hot block boilerplate text"))
    val cool = Seq((9001L, "web", "zzzz cool pair text"),
      (9002L, "web", "zzzz cool pair text"))
    val got = pairs(corpus("fzhot", hot ++ cool))
    got shouldBe Seq((9001L, 9002L, 0L))
    // at exactly the cap the block survives
    val atCap = (1L to Dedup.FuzzyMaxBlock.toLong)
      .map(i => (i, "web", "hot block boilerplate text"))
    pairs(corpus("fzcap", atCap)).size should be > 0
  }

  test("keys normalize before blocking: case differences are edit " +
    "distance zero; stripped punctuation costs only its width") {
    // pure case difference → identical keys
    val caseDir = corpus("fznorm", Seq(
      (1L, "web", "HELLO WORLD SAME TAIL HERE"),
      (2L, "web", "hello world same tail here")))
    pairs(caseDir) shouldBe Seq((1L, 2L, 0L))
    // punctuation inside the raw 24-char cut is stripped AFTER the cut,
    // so it shortens the key rather than misaligning the block
    val punctDir = corpus("fzpunct", Seq(
      (3L, "web", "hello, world! same tail here"),
      (4L, "web", "hello world same tail here")))
    val Seq((3L, 4L, d)) = pairs(punctDir)
    d should be <= 2L // the two chars the longer raw cut kept
  }

  test("blocking bounds recall: near-identical docs in different blocks " +
    "(or sources) never pair") {
    val dir = corpus("fzblk", Seq(
      (1L, "web", "aaaa nearly the same text"),
      (2L, "web", "bbbb nearly the same text"), // different 4-char block
      (3L, "cc", "aaaa nearly the same text"))) // different source
    pairs(dir) shouldBe empty
  }

  private def pairs2(dir: String) =
    Dedup.fuzzyNeighborPairs2Pass(spark, dir).orderBy("id_a", "id_b")
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSeq

  test("the reversed-key second pass recovers pairs a leading-prefix edit " +
    "pushed into different first-pass blocks: strictly higher recall") {
    // identical 20-char tails, different first 4 chars: pass 1 blocks on
    // "aaaa" vs "bbbb" (never compared); pass 2 blocks and sorts on the
    // REVERSED key, where the shared tail makes them adjacent
    val dir = corpus("fz2rec", Seq(
      (1L, "web", "aaaa identical tail text"),
      (2L, "web", "bbbb identical tail text")))
    pairs(dir) shouldBe empty // the single-pass recall hole, pinned
    pairs2(dir) shouldBe Seq((1L, 2L, 4L)) // 4 leading substitutions
  }

  test("two-pass output is a normalized superset of one pass: every " +
    "single-pass pair survives, ids ordered least-first, no duplicates") {
    val rows = (1L to 40L).map { i =>
      val tail = if (i % 3 == 0) "shared ending here" else s"tail $i here"
      (i, "web", s"doc ${i % 7} prefix $tail")
    } ++ Seq((100L, "web", "qqqq totally unique body"),
      (101L, "web", "rqqq totally unique body"))
    val dir = corpus("fz2sup", rows)
    val one = pairs(dir).map { case (a, b, dd) =>
      (math.min(a, b), math.max(a, b), dd) }.toSet
    val two = pairs2(dir)
    two.toSet.size shouldBe two.size // distinct
    two.foreach { case (a, b, _) => a should be < b }
    one.subsetOf(two.toSet) shouldBe true
  }

  test("both passes verify by the same criterion: a reversed-key neighbor " +
    "over the distance threshold is still rejected") {
    // shared 4-char reversed block ("txet"), but 15 > FuzzyMaxDist edits
    val dir = corpus("fz2thr", Seq(
      (1L, "web", "aaaaaaaaaaaaaaaa hit text"),
      (2L, "web", "bbbbbbbbbbbbbbbb hit text")))
    pairs2(dir) shouldBe empty
  }
}
