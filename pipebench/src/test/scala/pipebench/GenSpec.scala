package pipebench

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The generator is a pure function of the seed: two generations with the
  * same seed write byte-identical inputs, another seed writes other bytes.
  */
class GenSpec extends AnyFunSuite with Matchers {

  private def generate(workload: String, seed: Long): Map[String, Seq[Byte]] = {
    val work = Files.createTempDirectory(s"pipebench-gen-$workload-")
    try {
      val w = Workload(workload, seed, work)
      w.generate(2)
      w.inputRows should be > 0L
      w.inputBytes should be > 0L
      val s = Files.walk(w.inputs)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        w.inputs.relativize(p).toString -> Files.readAllBytes(p).toSeq
      }.toMap
      finally s.close()
    } finally Engine.deleteTree(work)
  }

  Workload.Names.foreach { name =>
    test(s"$name: the same seed gives byte-identical inputs") {
      val a = generate(name, 42)
      a should not be empty
      generate(name, 42) shouldBe a
      generate(name, 43) should not be a
    }
  }

  test("landing expectations count what the pipeline's rules see") {
    val g = new LandingGen(7, 2000, 2)
    val lines = g.lines(1)
    val e = g.expect(lines)
    e.dedupRemoved shouldBe (lines.size - lines.distinct.size).toLong
    e.landed.exists(_.symbol == "FAX") shouldBe false
    e.rowsWritten shouldBe e.landed.size.toLong
    e.dqWarnings should be >= lines.count(_.startsWith("AXN,")).toLong
  }

  test("image hash is order-free and sees a one-cent change") {
    val qs = new UpsertGen(3, 50, 3, 10).seedRows()
    def hash(rows: Seq[Quote]) = { val h = new ImageHash; rows.foreach(q => h.add(Gen.quoteCanon(q))); h.value }
    hash(qs) shouldBe hash(qs.reverse)
    hash(qs) should not be hash(qs.updated(0, qs(0).copy(close = qs(0).close + 1)))
    val h = new ImageHash
    qs.foreach(q => h.add(Gen.quoteCanon(q)))
    h.remove(Gen.quoteCanon(qs(0)))
    h.value shouldBe hash(qs.drop(1))
  }

  test("CDC events keep the model's key set consistent") {
    val g = new CdcGen(5, 40, 4)
    val seeded = g.seedRows().map(_.key).toSet
    g.model.keySet shouldBe seeded
    val events = g.nextEvents(500)
    events.size shouldBe 500
    events.forall(_.contains("\"ts_ms\":")) shouldBe true
    g.image.value._1 shouldBe g.model.size.toLong
  }
}

/** The output checks catch a wrong table: the engine's image of a landed
  * table matches the generator's, and a perturbed expectation fails the pass.
  */
class CheckSpec extends AnyFunSuite with Matchers {

  test("a landed table matches its generated image; a perturbed image is caught") {
    val work = Files.createTempDirectory("pipebench-check-")
    val spark = Engine.session(work)
    try {
      val g = new UpsertGen(11, 60, 4, 20)
      val csv = work.resolve("seed.dataset.csv")
      Gen.writeCsv(csv, g.seedRows().map(Gen.csvLine))
      val lake: Path = work.resolve("lake")
      Engine.land(spark, Engine.mergeSpec(lake, Engine.Db, "quotes"), csv)
      val table = s"${Engine.Db}.quotes"
      val got = Engine.imageOf(spark, table, Engine.QuoteCols)

      val ok = new Pass(None)
      Check.image(ok, "seeded", got, g.image.value)
      ok.failed shouldBe 0L

      val q = g.model.values.head
      val perturbed = new ImageHash
      g.model.values.foreach(x => perturbed.add(Gen.quoteCanon(if (x eq q) x.copy(volume = x.volume + 1) else x)))
      val bad = new Pass(None)
      Check.image(bad, "perturbed", got, perturbed.value)
      bad.failed shouldBe 1L
      bad.attempted shouldBe 1L

      // a read answer that differs from the engine's is a failure too
      val r = Read.Meta
      val answer = Engine.answerOf(spark.sql(r.sql(table)).collect(), ordered = false)
      answer shouldBe r.answer(g.model.values)
      val reads = new Pass(None)
      Check.reads(reads, Seq(ReadDone(r, answer, () => r.answer(g.model.values.drop(1)))))
      reads.failed shouldBe 1L
    } finally {
      spark.stop()
      Engine.deleteTree(work)
    }
  }
}
