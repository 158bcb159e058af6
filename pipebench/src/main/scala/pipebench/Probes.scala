package pipebench

import graft.dq.DataQualityRunner
import graft.operators.MergeUpsert
import graft.script.RowScripts
import graft.sources.FileSources
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}

/** Layer probes for the traced run: direct calls into one layer each, on
  * the same persisted input, materialized to the `noop` sink so only that
  * layer's work runs. Every workload probes the same generated input, so a
  * probe moves only when its layer does.
  */
object Probes {
  val Reps = 3

  def run(spark: SparkSession, dir: Path, seed: Long): Seq[(String, Double)] = {
    Files.createDirectories(dir)
    val gen = new LandingGen(seed, 4000, 40)
    val csv = dir.resolve("probe.dataset.csv")
    Gen.writeCsv(csv, gen.lines(0))
    val spec = Engine.landingSpec(dir.resolve("lake"), "probe", "stock_price", gen.ColumnRules)
      .normalized.validated
    def load(p: String) = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
    val transformJs = load(Engine.fixture("stock_price_transformation.js"))

    val raw = FileSources.read(spark, spec, csv.toString).persist()
    raw.count()

    val up = new UpsertGen(seed, 800, 30, 800)
    val mergeSpec = Engine.mergeSpec(dir.resolve("lake"), "probe", "quotes").normalized
    def typed(rows: Seq[Quote], name: String): DataFrame = {
      val f = dir.resolve(name)
      Gen.writeCsv(f, rows.map(Gen.csvLine))
      val df = FileSources.applyDestinationSchema(
        FileSources.read(spark, mergeSpec, f.toString), mergeSpec.destination.schema).persist()
      df.count()
      df
    }
    val target = typed(up.seedRows(), "target.csv")
    val batch = typed(up.nextBatch(), "batch.csv")

    val out = Seq(
      "sources.read_probe_s" -> (() => FileSources.read(spark, spec, csv.toString)),
      "sources.cast_probe_s" -> (() =>
        FileSources.applyDestinationSchema(raw, spec.destination.schema)),
      "dq.probe_s" -> (() => DataQualityRunner.columnRuleViolations(raw, spec)
        .unionByName(DataQualityRunner.rowRuleViolations(raw, spec, load))),
      "script.probe_s" -> (() => RowScripts.transform(raw, transformJs, spec.source.schema,
        spec.destination.schema, "2017-01-02 00:00:00.000 UTC")),
      "operators.merge_probe_s" -> (() => MergeUpsert(target, batch, Engine.Keys))
    ).map { case (name, df) => name -> time(df) }
    Seq(raw, target, batch).foreach(_.unpersist())
    out
  }

  /** Median seconds to run the plan into the `noop` sink, after one
    * untimed run.
    */
  private def time(df: () => DataFrame): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      df().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Stats.median((1 to Reps).map(_ => once()))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Nearest-rank percentile; NaN for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
    }

  /** Samples above the nearest-rank percentile `p`. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100 * n).toInt)
}
