package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Plan-audit CLI: prints `.explain("formatted")` for named SparkEntry
  * queries against an arbitrary SF dir — the per-round "is this still the
  * plan I want at x10?" check (broadcast-vs-SMJ flips, pushed filters,
  * WholeStageCodegen spans) without writing a throwaway main each time.
  *
  * Usage: ExplainQuery <sfDir> <queryName> [queryName ...]
  * Env: SPARK_GRAFT_CPUS (default 8), SPARK_GRAFT_AQE=off to disable AQE
  * (static plans show the pre-runtime join strategy; AQE on shows what
  * actually executes).
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = session()
    val aqe = spark.conf.get("spark.sql.adaptive.enabled").toBoolean
    names.foreach { n =>
      println(s"\n================ $n @ $sfDir (AQE ${if (aqe) "on" else "off"}) ================")
      query(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }

  /** The tools' session: `local[SPARK_GRAFT_CPUS]`, AQE unless
    * `SPARK_GRAFT_AQE=off`, and the Bench/Verify extension surface.
    */
  private[tools] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "on") != "off"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // same extension surface as Bench/Verify: without the parser and the
      // planner seams, maintenance-verb fixtures fail to parse and the
      // printed plans miss the zone-map/MV/meta-agg rewrites Bench runs with
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private[tools] def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name " +
      s"(have ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})"))
}
