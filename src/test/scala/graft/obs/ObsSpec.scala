package graft.obs

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Tables}
import graft.model.ObjectStoreSpec
import graft.sinks.ObjectStoreSink
import graft.streaming.DedupIndexStream
import graft.tools.Profile

class ObsSpec extends SparkSpec {

  private val ss = spark
  import ss.implicits._
  private implicit val formats: Formats = DefaultFormats

  /** Listeners of this package on the context's bus (spark-private) and on
    * the session's streams.
    */
  private def obsListeners: Seq[String] = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val onBus = bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
    (onBus ++ spark.streams.listListeners().toSeq).map(_.getClass.getName)
      .filter(_.startsWith("graft.obs"))
  }

  private def all(s: Obs.SpanReport): Seq[Obs.SpanReport] =
    s +: s.children.flatMap(all)

  private def named(r: Obs.Report, name: String): Seq[Obs.SpanReport] =
    all(r.root).filter(_.name == name)

  private def assertClean(): Unit = {
    spark.sparkContext.getLocalProperty(Obs.SpanProp) shouldBe null
    obsListeners shouldBe empty
  }

  test("with no recorder a span runs its body once and leaves nothing behind") {
    var runs = 0
    Obs.span("outer")(Obs.span("inner") { runs += 1; 42 }) shouldBe 42
    runs shouldBe 1
    assertClean()
  }

  test("jobs land on the innermost span, AQE jobs included") {
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    val (groups, r) = Obs.record(spark, "root") {
      obsListeners should not be empty
      Obs.span("outer")(Obs.span("inner")(
        Tables.load(spark, sfDir, "lineitem").groupBy("l_orderkey").count()
          .collect().length))
    }
    groups should be > 0
    assertClean()
    val Seq(outer) = named(r, "outer")
    val Seq(inner) = named(r, "inner")
    outer.selfJobs shouldBe 0
    inner.selfJobs should be > 0
    outer.work shouldBe inner.work
    inner.work.tasks should be > 0
    inner.work.shuffleWriteBytes should be > 0L
    inner.work.shuffleReadBytes should be > 0L
    r.unattributedJobs shouldBe 0
    r.root.work.jobs shouldBe inner.work.jobs
  }

  test("an object-store write yields its commit-phase spans") {
    val dir = scratchDir("obscommit").getAbsolutePath
    val spec = ObjectStoreSpec(path = dir, database = "graft_obs", table = "commit")
    val (_, r) = Obs.record(spark, "write")(
      ObjectStoreSink.write(spark, spark.range(1000).toDF("id"), spec))
    Seq("save", "reread", "manifest", "repoint", "retire").foreach { p =>
      withClue(p)(named(r, s"replaceTable.$p") should have size 1)
    }
    val Seq(save) = named(r, "replaceTable.save")
    save.work.outputBytes should be > 0L
    save.work.writeJobs should be > 0
    r.unattributedJobs shouldBe 0
  }

  test("a DedupIndexStream run yields one record per micro-batch with its phases") {
    val dir = scratchDir("obsdedup").getAbsolutePath
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Seq[String])]
    def toks(salt: String) = (0 until 30).map(i => s"tok$salt$i")
    val (_, r) = Obs.record(spark, "stream") {
      val q = DedupIndexStream.start(spark, in.toDF().toDF("doc_id", "tokens"),
        s"$dir/index", s"$dir/pairs", s"$dir/ckpt")
      try {
        in.addData((1L, toks("a")), (2L, toks("b")))
        q.processAllAvailable()
        in.addData((3L, toks("a")))
        q.processAllAvailable()
      } finally q.stop()
    }
    val batches = named(r, "dedupIndex.batch")
    batches should have size 2
    batches.foreach { b =>
      b.children.map(_.name) should contain allOf ("loadIndex", "bands.write",
        "hashes.write", "counts.write")
      b.work.writeJobs should be >= 3
    }
    named(r, "pairs.write") should have size 1 // only batch 2 finds a pair
    r.batches.filter(_.rows > 0).map(_.batchId) shouldBe Seq(0L, 1L)
    r.batches.filter(_.rows > 0).foreach(_.durationsMs.keySet should contain ("addBatch"))
    r.unattributedJobs shouldBe 0
  }

  test("Profile's JSON for q_pipeline_e2e has the steps, commit phases and planning") {
    val res = Profile.profile(spark, sfDir, "q_pipeline_e2e")
    val j = JsonMethods.parse(Profile.json(res))
    (j \ "query") shouldBe JString("q_pipeline_e2e")
    val planning = (j \ "profile" \ "planningMs").extract[Map[String, Long]]
    planning.keySet should contain allOf ("analysis", "optimization", "planning")
    val names = (j \\ "name").children.collect { case JString(n) => n }.toSet
    names should contain allOf ("read", "DataQuality", "Transformation",
      "dedup", "Load", "replaceTable.save", "replaceTable.manifest",
      "replaceTable.repoint", "replaceTable.retire")
    (j \ "profile" \ "unattributedJobs") shouldBe JInt(0)
    res.profile.graftRulesMs.keySet should contain ("graft.plans.ZoneMapScanRule")
  }
}
