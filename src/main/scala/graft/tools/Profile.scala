package graft.tools

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.obs.Obs

/** Profiles named SparkEntry queries and prints one JSON line per query:
  * after a warm run, one run under an [[Obs]] recorder (`onMs`, and the
  * recorder's report: the span tree with Spark work per span, planning
  * phase and graft rule times, streaming micro-batches, unattributed jobs)
  * between two runs with no recorder (`offMs`, their mean, so a drift
  * across runs cancels to first order). `onMs / offMs - 1` is the seam's
  * cost when on.
  *
  * Usage: Profile <sfDir> <queryName> [queryName ...]
  * Env: as [[ExplainQuery]] (SPARK_GRAFT_CPUS, SPARK_GRAFT_AQE).
  */
object Profile {
  final case class Result(query: String, sfDir: String, warmMs: Double,
      offMs: Double, onMs: Double, profile: Obs.Report)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <queryName> [queryName ...]")
    val spark = ExplainQuery.session()
    try args.drop(1).foreach(n => println(json(profile(spark, args(0), n))))
    finally spark.stop()
  }

  def profile(spark: SparkSession, sfDir: String, name: String): Result = {
    val q = ExplainQuery.query(name)
    def wallNs(body: => Unit): Long = {
      val t0 = System.nanoTime()
      body
      System.nanoTime() - t0
    }
    def ms(ns: Double) = math.round(ns / 1e4) / 100.0
    val warm = wallNs(q(spark, sfDir).count(): Unit)
    val before = wallNs(q(spark, sfDir).count(): Unit)
    val (_, report) = Obs.record(spark, name)(q(spark, sfDir).count())
    val after = wallNs(q(spark, sfDir).count(): Unit)
    Result(name, sfDir, ms(warm), ms((before + after) / 2.0), report.root.wallMs,
      report)
  }

  def json(r: Result): String = Serialization.write(r)(DefaultFormats)
}
