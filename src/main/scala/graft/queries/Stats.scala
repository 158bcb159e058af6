package graft.queries

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Order-statistics and sampling operators for the analytics/curation
  * surface (SURVEY.md §2.5-§2.6 analytics breadth; training-pipeline
  * sampling ops).
  *
  * Scale notes (100 TB design stance):
  *   - `q_quantiles` uses exact `percentile_disc`, a sort-based aggregate
  *     whose per-group state is the group's value multiset — fine for
  *     low-cardinality strata (here: 3 return flags), wrong for
  *     high-cardinality groups. The scale path is `approx_percentile`
  *     (Greenwald-Khanna, bounded state, mergeable partials);
  *     `QuantileSpec` pins the approx result to the exact one within the
  *     published rank-error bound so the swap is evidence-backed.
  *   - `q_stratified_sample` is a pure narrow map: the sampling decision
  *     is a deterministic hash of the row key, so it needs no shuffle, no
  *     count pass, and no driver state; every executor makes the same
  *     decision for the same row at any scale, and re-runs are idempotent
  *     (the property that matters when a 100 TB sample job restarts).
  */
object Stats {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** House md5-bucket convention (Dedup.scala:35, splits): first 15 hex
    * chars → 60-bit non-negative long, mod the bucket count.
    */
  private def keyBucket(c: org.apache.spark.sql.Column, buckets: Int) =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType) % buckets

  private val bucketSql = (expr: String, buckets: Int) =>
    s"CAST(('0x' || substring(md5($expr), 1, 15)) AS BIGINT) % $buckets"

  val defs: Seq[QueryDef] = Seq(

    // ---- exact per-stratum order statistics -----------------------------
    QueryDef(
      "q_quantiles",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("cnt"),
            expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)")
              .as("p25"),
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
              .as("p50"),
            expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice)")
              .as("p75"),
            expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)")
              .as("p99"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(*) AS cnt,
             |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS p25,
             |  percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
             |  percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS p75,
             |  percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice) AS p99
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- deterministic stratified sampling ------------------------------
    // Per-stratum rates out of 1000 on the row's unique key: the sample is
    // a pure filter (no shuffle), reproducible across runs and engines.
    QueryDef(
      "q_stratified_sample",
      (s, d) => {
        val rate = when(col("l_returnflag") === "A", 100L)
          .when(col("l_returnflag") === "N", 500L)
          .otherwise(1000L)
        t(s, d, "lineitem")
          .filter(keyBucket(
            concat_ws("#", col("l_orderkey"), col("l_linenumber")), 1000) < rate)
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some(s"""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
              |FROM lineitem
              |WHERE ${bucketSql("CONCAT(l_orderkey, '#', l_linenumber)", 1000)}
              |  < CASE l_returnflag WHEN 'A' THEN 100 WHEN 'N' THEN 500 ELSE 1000 END
              |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- deterministic per-group reservoir (exact-k per stratum) --------
    // Balanced per-class sampling: exactly k rows per stratum, chosen by
    // ranking on the md5 of the row key — pseudo-random but reproducible
    // across runs and engines. The rank<=k filter plans as Spark's
    // WindowGroupLimit (bounded top-k held per group on BOTH sides of the
    // shuffle, never a full ranked materialization — plan-guarded), so
    // per-group state is O(k) however large the stratum gets.
    QueryDef(
      "q_reservoir_per_group",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val key = concat_ws("#", col("l_orderkey"), col("l_linenumber"))
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(md5(key), col("l_orderkey"), col("l_linenumber"))
        t(s, d, "lineitem")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 50)
          .select("l_returnflag", "rk", "l_orderkey", "l_linenumber")
          .orderBy("l_returnflag", "rk")
      },
      Some("""SELECT l_returnflag, rk, l_orderkey, l_linenumber
             |FROM (
             |  SELECT l_returnflag, l_orderkey, l_linenumber,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |      ORDER BY md5(CONCAT(l_orderkey, '#', l_linenumber)),
             |               l_orderkey, l_linenumber) AS rk
             |  FROM lineitem)
             |WHERE rk <= 50
             |ORDER BY l_returnflag, rk""".stripMargin)),

    // ---- Z-order layout roundtrip ---------------------------------------
    // Rewrites lineitem clustered along the Morton curve of
    // (l_partkey, l_suppkey), then answers a two-dimensional range query
    // from the clustered copy. The oracle runs the same query on the
    // ORIGINAL table: a layout operator must be invisible to results while
    // `ZOrderSpec` separately proves the files got range-prunable.
    QueryDef(
      "q_zorder_agg",
      (s, d) => {
        val path = graft.Scratch.fresh("graft-zorder")
        graft.operators.ZOrder.write(
          t(s, d, "lineitem"), Seq("l_partkey", "l_suppkey"), 16, path)
        s.read.parquet(path)
          .filter(col("l_partkey").between(20, 120) &&
            col("l_suppkey").between(2, 7))
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("cnt"),
            QueryDef.dsum(col("l_quantity")).as("sum_qty"),
            QueryDef.dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
             |FROM lineitem
             |WHERE l_partkey BETWEEN 20 AND 120 AND l_suppkey BETWEEN 2 AND 7
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- Z-order × zone maps × planner rule -------------------------------
    // The multi-dimensional skipping story end-to-end: lineitem committed
    // Z-ORDERED on (l_partkey, l_suppkey) through the versioned-table
    // protocol (manifest lifts each file's footer ranges), then a 2-D band
    // query (cell-separable bands) runs as PLAIN SQL — ZoneMapScanRule
    // prunes the scan's listing from the manifest. The z-curve is what
    // makes BOTH dimensions prunable at once: the query REQUIREs that
    // EACH dimension alone proves skips (a 1-D sort could only ever
    // skip on its own column) and that the SQL scan was pruned. The
    // oracle answers from the ORIGINAL table — layout + skipping must be
    // invisible to results. At 100 TB this composition (Morton layout →
    // footer stats → manifest → driver-side listing prune) is what turns
    // a petabyte 2-D range scan into a handful of file reads.
    QueryDef(
      "q_zonemap_zorder",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-zmzorder"),
          database = "graft_ops", table = "zmz_li",
          writeMode = "overwrite", deleteBeforeWrite = true)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          graft.operators.ZOrder.layout(
            t(s, d, "lineitem"), Seq("l_partkey", "l_suppkey"), 16), spec)
        val live = java.nio.file.Paths.get(
          graft.sinks.ObjectStoreSink.snapshots(spec).last.path)
        val m = graft.sinks.TableManifest.read(live).get
        val zm = graft.sinks.ZoneMap
        val pkOnly = zm.prune(m, Seq(zm.Bound("l_partkey", Some(20L), Some(120L))))._2
        val skOnly = zm.prune(m, Seq(zm.Bound("l_suppkey", Some(0L), Some(4L))))._2
        require(pkOnly.filesSkipped > 0 && skOnly.filesSkipped > 0,
          s"z-order did not make both dimensions prunable: pk=$pkOnly sk=$skOnly")
        graft.GraftExtensions.register(s)
        val df = s.sql(
          """SELECT l_returnflag, count(*) AS cnt,
            |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
            |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
            |FROM graft_ops.zmz_li
            |WHERE l_partkey BETWEEN 20 AND 120 AND l_suppkey BETWEEN 0 AND 4
            |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        val reports = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case z: graft.plans.ZoneMapPrunedIndex => Seq(z.report)
                  case _ => Nil
                }
              case _ => Nil
            }
        }.flatten
        require(reports.nonEmpty && reports.head.filesKept < reports.head.filesTotal,
          s"SQL scan over the z-ordered table was not pruned: $reports")
        df
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
             |FROM lineitem
             |WHERE l_partkey BETWEEN 20 AND 120 AND l_suppkey BETWEEN 0 AND 4
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- dim-driven join file pruning (runtime-filter analogue) ---------
    // The classic star-join read path at 100 TB: a selective dimension's
    // join-key set prunes FACT FILES from the manifest before the join
    // plan even lists them. The dim here is deliberately BIMODAL (the
    // oldest + newest tenth of part keys — the hot-old + hot-new id shape
    // runtime filters exist for): its [min, max] range spans the whole
    // clustered fact, so range relaxation proves nothing, while the
    // per-file key-set probe (binary search of the sorted dim keys inside
    // each file's recorded window) drops every middle file. The query
    // REQUIREs exactly that separation, then joins and aggregates; the
    // oracle replays the same join over the ORIGINAL table — pruning must
    // be invisible to results.
    QueryDef(
      "q_join_prune",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-joinprune"),
          database = "graft_ops", table = "jp_li",
          writeMode = "overwrite", deleteBeforeWrite = true)
        // fact committed range-clustered on the join key (the layout a
        // sort/Z-order maintenance pass leaves behind)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "lineitem").repartitionByRange(16, col("l_partkey")), spec)
        val part = t(s, d, "part")
        val mx = part.agg(max("p_partkey")).head.getLong(0) // 1-row planning agg
        val tenth = mx / 10
        val dim = part
          .where(col("p_partkey") <= tenth || col("p_partkey") > mx - tenth)
          .select("p_partkey")
        val (fact, rep) = graft.operators.JoinPrune.factForEquiJoin(
          s, spec, dim, "l_partkey", "p_partkey")
        require(rep.keySetUsed &&
          rep.set.exists(_.filesSkipped > rep.range.filesSkipped),
          s"key-set prune did not beat the range relaxation: $rep")
        fact.join(broadcast(dim), col("l_partkey") === col("p_partkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("decimal(28,4)")).cast("double")
              .as("sum_qty"))
          .orderBy("l_returnflag")
      },
      // FLOOR(... / 10.0), not "/ 10": DuckDB's `/` on integers is float
      // division; the Spark side's Long division floors (mx >= 0)
      Some("""WITH b AS (SELECT CAST(MAX(p_partkey) AS BIGINT) AS mx,
             |  CAST(FLOOR(MAX(p_partkey) / 10.0) AS BIGINT) AS tenth FROM part)
             |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem, part, b
             |WHERE l_partkey = p_partkey
             |  AND (p_partkey <= b.tenth OR p_partkey > b.mx - b.tenth)
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- join file pruning through the PLANNER SEAM ---------------------
    // Same star-join read path as q_join_prune, but nobody calls the
    // library: the fact is a catalog table, the dim a plain SQL subquery,
    // and graft.plans.JoinPruneRule collects the dim's key set at planning
    // time and prunes the fact's file LISTING from the manifest. The dim
    // is the same deliberately BIMODAL shape — its [min, max] spans the
    // whole clustered fact, so ANY file skipped proves the per-file
    // key-set probe fired, not the range relaxation. The query REQUIREs
    // the optimized plan to carry a pruned listing; the oracle replays
    // the join over the ORIGINAL table — the rewrite must be invisible
    // to results.
    QueryDef(
      "q_join_prune_sql",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-joinprune-sql"),
          database = "graft_ops", table = "jp2_li",
          writeMode = "overwrite", deleteBeforeWrite = true)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "lineitem").repartitionByRange(16, col("l_partkey")), spec)
        val part = t(s, d, "part")
        part.createOrReplaceTempView("jp2_part")
        val mx = part.agg(max("p_partkey")).head.getLong(0) // 1-row planning agg
        val tenth = mx / 10
        graft.GraftExtensions.register(s)
        // the production benefit gate refuses sf-test-sized facts; open it
        // for this demonstration (the plan is FORCED by the REQUIRE below,
        // so the conf can be restored before returning)
        s.conf.set("spark.graft.joinPrune.minFactBytes", "0")
        try {
          val df = s.sql(
            s"""SELECT l_returnflag, count(*) AS cnt,
               |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
               |FROM graft_ops.jp2_li f
               |JOIN (SELECT p_partkey FROM jp2_part
               |      WHERE p_partkey <= $tenth OR p_partkey > ${mx - tenth}) d
               |  ON f.l_partkey = d.p_partkey
               |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
          val reports = df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation match {
                case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  h.location match {
                    case z: graft.plans.ZoneMapPrunedIndex => Seq(z.report)
                    case _ => Nil
                  }
                case _ => Nil
              }
          }.flatten
          require(reports.nonEmpty && reports.head.filesKept < reports.head.filesTotal,
            s"JoinPruneRule did not prune the fact listing: $reports")
          df
        } finally s.conf.unset("spark.graft.joinPrune.minFactBytes")
      },
      Some("""WITH b AS (SELECT CAST(MAX(p_partkey) AS BIGINT) AS mx,
             |  CAST(FLOOR(MAX(p_partkey) / 10.0) AS BIGINT) AS tenth FROM part)
             |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem, part, b
             |WHERE l_partkey = p_partkey
             |  AND (p_partkey <= b.tenth OR p_partkey > b.mx - b.tenth)
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- MULTI-KEY join file pruning through the planner seam ------------
    // A two-key equi-join where the FIRST conjunct's key (l_partkey) is
    // unclustered in the fact — its per-file windows span the whole key
    // range, so its probe provably proves NOTHING (REQUIREd against the
    // manifest directly) — while the SECOND conjunct's key (l_shipdate,
    // the fact's cluster column; the dim holds a 30-day band) drops most
    // files. Every equi-conjunct must compose for this plan to prune at
    // all: a first-proving-conjunct-only rule leaves it unpruned. The
    // oracle replays the two-key join over the ORIGINAL rows — the
    // rewrite must be invisible to results.
    QueryDef(
      "q_join_prune_multikey",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-joinprune-mk"),
          database = "graft_ops", table = "jp3_li",
          writeMode = "overwrite", deleteBeforeWrite = true)
        // shipdate arrives TIMESTAMP_NTZ (no UTC adjustment → parquet
        // footers carry no sound range for it, by the manifest's own
        // rules); committing it CAST under the UTC session gives the
        // cluster column real tsus stats — the layout choice a lakehouse
        // makes deliberately
        val li = t(s, d, "lineitem")
          .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          li.repartitionByRange(16, col("l_shipdate")), spec)
        li.createOrReplaceTempView("jp3_src")
        // 30-day band from the earliest shipdate (1-row planning agg);
        // the literal is embedded so the build side stays subquery-free
        val mn = t(s, d, "lineitem").agg(min("l_shipdate")).head
          .getAs[java.time.LocalDateTime](0)
        val cut = java.time.format.DateTimeFormatter
          .ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS").format(mn.plusDays(30))
        // the dim is COMMITTED as its own (tiny) versioned table — the
        // realistic star shape, and the scan's plan stats then reflect its
        // ACTUAL bytes at every scale factor (a dim derived inline from
        // the fact inherits the fact's un-reduced size estimate under
        // non-CBO stats, tripping the smallness gate as the fact grows)
        val dimSpec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-joinprune-mk-dim"),
          database = "graft_ops", table = "jp3_dim",
          writeMode = "overwrite", deleteBeforeWrite = true)
        graft.sinks.ObjectStoreSink.replaceTable(s, s.sql(
          s"""SELECT DISTINCT l_partkey AS pk, l_shipdate AS sd
             |FROM jp3_src
             |WHERE l_shipdate <= TIMESTAMP '$cut'
             |  AND l_suppkey = 0""".stripMargin), dimSpec)
        graft.GraftExtensions.register(s)
        s.conf.set("spark.graft.joinPrune.minFactBytes", "0")
        try {
          val df = s.sql(
            s"""SELECT l_returnflag, count(*) AS cnt,
               |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
               |    AS sum_qty
               |FROM graft_ops.jp3_li f
               |JOIN graft_ops.jp3_dim d
               |  ON f.l_partkey = d.pk AND f.l_shipdate = d.sd
               |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
          val reports = df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation match {
                case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  h.location match {
                    case z: graft.plans.ZoneMapPrunedIndex => Seq(z.report)
                    case _ => Nil
                  }
                case _ => Nil
              }
          }.flatten
          require(reports.nonEmpty && reports.head.filesKept < reports.head.filesTotal,
            s"two-key JoinPruneRule did not prune the fact listing: $reports")
          // the first conjunct alone is provably powerless on this layout:
          // every kept-or-dropped decision came from the SECOND key
          val m = graft.sinks.TableManifest.read(java.nio.file.Paths.get(
            graft.sinks.ObjectStoreSink.snapshots(spec).last.path)).get
          val pkKeys = s.sql(
            s"""SELECT DISTINCT l_partkey FROM jp3_src
               |WHERE l_shipdate <= TIMESTAMP '$cut'
               |  AND l_suppkey = 0""".stripMargin)
            .collect().map(_.getLong(0)).toSeq
          val pkOnly = graft.sinks.ZoneMap.pruneInSet(m, "l_partkey", pkKeys).get._2
          require(pkOnly.filesSkipped == 0,
            s"layout unexpectedly partkey-clustered — first key pruned: $pkOnly")
          df
        } finally s.conf.unset("spark.graft.joinPrune.minFactBytes")
      },
      Some("""WITH b AS (SELECT MIN(l_shipdate) + INTERVAL 30 DAY AS cut
             |           FROM lineitem)
             |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem f
             |JOIN (SELECT DISTINCT l_partkey AS pk, l_shipdate AS sd
             |      FROM lineitem, b
             |      WHERE l_shipdate <= b.cut AND l_suppkey = 0) d
             |  ON f.l_partkey = d.pk AND f.l_shipdate = d.sd
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- per-file bloom index: the unclustered-layout skipping proof ----
    // lineitem committed HASH-distributed on l_orderkey: every file's
    // zone-map window spans the whole key range, so a 3-key point probe
    // range-proves NOTHING — the query REQUIREs exactly that — while the
    // per-file bloom sidecar (built at commit, probed driver-side with
    // the engine's own xxhash64 convention) drops the files that provably
    // hold none of the keys. False positives only keep an extra file
    // (re-filtered exactly); false negatives cannot happen. The oracle
    // replays the IN-lookup over the ORIGINAL table — the index must be
    // invisible to results. At 100 TB this is the needle-in-haystack
    // read path: O(files) driver-side bloom tests instead of a scan task
    // per file.
    QueryDef(
      "q_bloom_prune",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-bloomprune"),
          database = "graft_ops", table = "bp_li",
          writeMode = "overwrite", deleteBeforeWrite = true,
          bloomColumns = Seq("l_orderkey"))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "lineitem").repartition(32, col("l_orderkey")), spec)
        val r = t(s, d, "lineitem")
          .agg(min("l_orderkey"), max("l_orderkey")).head // 1-row planning agg
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        val keys = Seq(mn, (mn + mx) / 2, mx)
        val vdir = java.nio.file.Paths.get(
          graft.sinks.ObjectStoreSink.snapshots(spec).last.path)
        val m = graft.sinks.TableManifest.read(vdir).get
        val zm = graft.sinks.ZoneMap
        // the zone-map proof is structurally impossible on this layout
        val (_, zmRep) = zm.pruneInSet(m, "l_orderkey", keys).get
        require(zmRep.filesSkipped == 0,
          s"layout unexpectedly clustered — zone maps pruned: $zmRep")
        val (kept, bRep) = graft.sinks.BloomIndex.prune(
          vdir, m, "l_orderkey", keys).get
        require(bRep.filesSkipped > 0,
          s"bloom index proved nothing on a 3-key probe: $bRep")
        graft.sinks.ObjectStoreSink.readSubset(s, vdir.toString, "parquet",
          kept, m.files.size)
          .where(col("l_orderkey").isin(keys: _*))
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_extendedprice").cast("decimal(28,4)")).cast("double")
              .as("sum_price"))
          .orderBy("l_orderkey")
      },
      Some("""WITH b AS (SELECT CAST(MIN(l_orderkey) AS BIGINT) AS mn,
             |  CAST(MAX(l_orderkey) AS BIGINT) AS mx FROM lineitem)
             |SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
             |    AS sum_price
             |FROM lineitem, b
             |WHERE l_orderkey IN (b.mn, CAST(FLOOR((b.mn + b.mx) / 2.0) AS BIGINT), b.mx)
             |GROUP BY l_orderkey
             |ORDER BY l_orderkey""".stripMargin)),

    // ---- bloom skipping through the PLANNER SEAM -------------------------
    // Same unclustered layout, but nobody calls the library: a plain SQL
    // IN-lookup over the catalog table gets its scan listing pruned by
    // ZoneMapScanRule's bloom probes (the IN's [min, max] relaxation
    // proves nothing here — any skip is bloom evidence). The query
    // REQUIREs the optimized plan to carry the pruned listing; the oracle
    // replays the lookup over the ORIGINAL table.
    QueryDef(
      "q_bloom_sql",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-bloomsql"),
          database = "graft_ops", table = "bp2_li",
          writeMode = "overwrite", deleteBeforeWrite = true,
          bloomColumns = Seq("l_orderkey"))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "lineitem").repartition(32, col("l_orderkey")), spec)
        val r = t(s, d, "lineitem")
          .agg(min("l_orderkey"), max("l_orderkey")).head // 1-row planning agg
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        graft.GraftExtensions.register(s)
        val df = s.sql(
          s"""SELECT l_orderkey, count(*) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
             |    AS sum_qty
             |FROM graft_ops.bp2_li
             |WHERE l_orderkey IN ($mn, ${(mn + mx) / 2}, $mx)
             |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)
        val reports = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case z: graft.plans.ZoneMapPrunedIndex => Seq(z.report)
                  case _ => Nil
                }
              case _ => Nil
            }
        }.flatten
        require(reports.nonEmpty && reports.head.filesKept < reports.head.filesTotal,
          s"bloom probes did not prune the SQL scan listing: $reports")
        df
      },
      Some("""WITH b AS (SELECT CAST(MIN(l_orderkey) AS BIGINT) AS mn,
             |  CAST(MAX(l_orderkey) AS BIGINT) AS mx FROM lineitem)
             |SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem, b
             |WHERE l_orderkey IN (b.mn, CAST(FLOOR((b.mn + b.mx) / 2.0) AS BIGINT), b.mx)
             |GROUP BY l_orderkey
             |ORDER BY l_orderkey""".stripMargin)),

    // ---- bloom skipping for DISJUNCTIONS ---------------------------------
    // `id = a OR id = b` on an UNCLUSTERED layout: each branch's [k, k]
    // zone-map window spans every file (hash-distributed writes), and the
    // Or is one conjunct, so the top-level key-set path never sees it —
    // the r12 verdict's one pruning blind spot. The may-match TREES now
    // carry exact key sets on equality/IN leaves and resolve them against
    // the per-file Bloom sidecar, so a file drops when EVERY branch's
    // probe says "none of these keys can be here". The query REQUIREs
    // that the zone-map range proof is structurally impossible (pruneInSet
    // over the union of keys skips nothing) yet the SQL scan listing was
    // pruned; the oracle replays the disjunction over the original table.
    QueryDef(
      "q_bloom_or",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-bloomor"),
          database = "graft_ops", table = "bp3_li",
          writeMode = "overwrite", deleteBeforeWrite = true,
          bloomColumns = Seq("l_orderkey"))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "lineitem").repartition(32, col("l_orderkey")), spec)
        val r = t(s, d, "lineitem")
          .agg(min("l_orderkey"), max("l_orderkey")).head // 1-row planning agg
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        // INTERIOR keys: the extremes are exactly what range windows CAN
        // prune even on a hashed layout (only one file's min is the global
        // min); thirds sit inside every file's window. Snap each third to
        // the nearest EXISTING key at or above it — scale-grown data has
        // key-band gaps, and an absent key makes the whole listing prune
        // to the (also correct, but differently-shaped) constant-empty
        // collapse this REQUIRE is not about
        val (t1, t2) = ((2 * mn + mx) / 3, (mn + 2 * mx) / 3)
        val rk = t(s, d, "lineitem").agg(
          min(when(col("l_orderkey") >= t1, col("l_orderkey"))).as("k1"),
          min(when(col("l_orderkey") >= t2, col("l_orderkey"))).as("k2"))
          .head // 1-row planning agg
        val (k1, k2) = (rk.getLong(0), rk.getLong(1))
        val vdir = java.nio.file.Paths.get(
          graft.sinks.ObjectStoreSink.snapshots(spec).last.path)
        val m = graft.sinks.TableManifest.read(vdir).get
        // range evidence is provably useless on this layout: even the
        // exact two-key set prunes nothing through [min, max] windows
        require(graft.sinks.ZoneMap.pruneInSet(m, "l_orderkey",
          Seq(k1, k2)).get._2.filesSkipped == 0,
          "layout unexpectedly clustered — the OR demo proves nothing")
        graft.GraftExtensions.register(s)
        val df = s.sql(
          s"""SELECT l_orderkey, count(*) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
             |    AS sum_qty
             |FROM graft_ops.bp3_li
             |WHERE l_orderkey = $k1 OR l_orderkey = $k2
             |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)
        val reports = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case z: graft.plans.ZoneMapPrunedIndex => Seq(z.report)
                  case _ => Nil
                }
              case _ => Nil
            }
        }.flatten
        require(reports.nonEmpty &&
          reports.head.filesKept < reports.head.filesTotal,
          s"disjunction bloom probes did not prune the listing: $reports")
        df
      },
      Some("""WITH b AS (SELECT CAST(MIN(l_orderkey) AS BIGINT) AS mn,
             |  CAST(MAX(l_orderkey) AS BIGINT) AS mx FROM lineitem),
             |k AS (SELECT
             |  (SELECT MIN(l_orderkey) FROM lineitem, b
             |   WHERE l_orderkey >= CAST(FLOOR((2 * b.mn + b.mx) / 3.0) AS BIGINT)) AS k1,
             |  (SELECT MIN(l_orderkey) FROM lineitem, b
             |   WHERE l_orderkey >= CAST(FLOOR((b.mn + 2 * b.mx) / 3.0) AS BIGINT)) AS k2)
             |SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem, k
             |WHERE l_orderkey = k.k1 OR l_orderkey = k.k2
             |GROUP BY l_orderkey
             |ORDER BY l_orderkey""".stripMargin)),

    // ---- decimal stats domain: zone maps + metadata aggregates ------------
    // Money columns are exactly what 100 TB fact tables filter on, and r12
    // left decimals stats-dark (the unscaled-footer aliasing hazard). The
    // manifest now records int32/int64/FLBA DECIMAL stats as
    // (unscaled long, scale); exact-decimal predicates prune through the
    // planner seam and MIN/MAX/filtered counts answer from metadata. The
    // fixture derives the decimal from an integer key so the Spark and
    // DuckDB casts are bit-identical; the REQUIREs gate both the pruned
    // listing (BETWEEN) and the zero-scan metadata answers.
    QueryDef(
      "q_zonemap_decimal",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-zmdec"),
          database = "graft_ops", table = "zdec_li",
          writeMode = "overwrite", deleteBeforeWrite = true)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "lineitem")
            .withColumn("price", (col("l_orderkey") % 10000).cast("decimal(12,2)"))
            .repartitionByRange(16, col("price")), spec)
        graft.GraftExtensions.register(s)
        // metadata-only decimal MIN/MAX + non-null count: zero scans
        val meta = s.sql(
          """SELECT min(price) AS mn, max(price) AS mx, count(price) AS np
            |FROM graft_ops.zdec_li""".stripMargin)
        require(meta.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
        }.isEmpty, "decimal MIN/MAX was not answered from the manifest:\n" +
          meta.queryExecution.optimizedPlan)
        val exp = t(s, d, "lineitem")
          .select((col("l_orderkey") % 10000).cast("decimal(12,2)").as("p"))
          .agg(min("p"), max("p"), count(col("p"))).head // 1-row planning agg
        val got = meta.head
        require(got.getDecimal(0) == exp.getDecimal(0) &&
          got.getDecimal(1) == exp.getDecimal(1) &&
          got.getLong(2) == exp.getLong(2),
          s"decimal metadata answers wrong: $got vs $exp")
        // exact-decimal BETWEEN over the interior quarter of the price
        // domain (data-derived, so the band is interior at every SF)
        // prunes the range-clustered listing
        val pmx = exp.getDecimal(1).longValueExact()
        val (lo, hi) = (pmx / 4, pmx / 2)
        val df = s.sql(
          s"""SELECT l_returnflag, count(*) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
             |    AS sum_qty
             |FROM graft_ops.zdec_li
             |WHERE price BETWEEN $lo.00 AND $hi.00
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        val reports = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case z: graft.plans.ZoneMapPrunedIndex => Seq(z.report)
                  case _ => Nil
                }
              case _ => Nil
            }
        }.flatten
        require(reports.nonEmpty &&
          reports.head.filesKept < reports.head.filesTotal,
          s"decimal zone maps did not prune the listing: $reports")
        df
      },
      Some("""WITH b AS (SELECT CAST(MAX(l_orderkey % 10000) AS BIGINT) AS pmx
             |           FROM lineitem)
             |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem, b
             |WHERE CAST(l_orderkey % 10000 AS DECIMAL(12,2))
             |      BETWEEN CAST(FLOOR(b.pmx / 4.0) AS DECIMAL(12,2))
             |          AND CAST(FLOOR(b.pmx / 2.0) AS DECIMAL(12,2))
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- materialized-view query rewrite ---------------------------------
    // The repeated-dashboard read path at 100 TB: the defining aggregate
    // is maintained as a snapshot table; a user re-issuing the SAME query
    // (Spark's canonicalized sameResult proof — the CacheManager
    // machinery pointed at a durable snapshot) is answered from the
    // snapshot with ZERO base-table scans, gated by a freshness pin
    // (base version + manifest file-set signature, so in-place appends
    // refuse too). The query REQUIREs the optimized plan to scan ONLY
    // the snapshot; the oracle computes the aggregate from the base rows
    // — the rewrite must be invisible to results.
    QueryDef(
      "q_mv_rewrite",
      (s, d) => {
        val baseSpec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-mvrw"),
          database = "graft_ops", table = "mvr_li",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val fq = graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "lineitem"), baseSpec)
        val defSql =
          s"""SELECT l_returnflag, count(*) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
             |    AS sum_qty
             |FROM $fq GROUP BY l_returnflag""".stripMargin
        val mvSpec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-mvrw-mv"),
          database = "graft_ops", table = "mvr_mv",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val mvFq = graft.sinks.ObjectStoreSink.replaceTable(s,
          s.sql(defSql), mvSpec)
        graft.GraftExtensions.register(s)
        graft.plans.MvRewriteRule.register("q_mv_rewrite_mv", s.sql(defSql),
          () => s.table(mvFq), Seq(baseSpec))
        try {
          val df = s.sql(defSql + " ORDER BY l_returnflag")
          val roots = df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation match {
                case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  h.location.rootPaths.map(_.toString)
                case _ => Seq("<non-fs>")
              }
          }.flatten
          require(roots.nonEmpty && roots.forall(_.contains("/mvr_mv/")),
            s"query was not answered from the MV snapshot: $roots")
          df
        } finally graft.plans.MvRewriteRule.deregister("q_mv_rewrite_mv")
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- MV CONTAINMENT rewrite: dashboards slice their MV ---------------
    // Real dashboards rarely re-issue the bare defining query — they
    // filter it ("only returns", "exclude pending"). Spark pushes a
    // group-key WHERE below the aggregate, so the subtree can never
    // sameResult the registered shape; the scoped containment extension
    // peels the pushed-down key filter, matches the residue with the same
    // canonical proof, and re-applies the predicate on the snapshot read.
    // The query REQUIREs the sliced SQL to scan ONLY the snapshot AND a
    // member-column filter (changes group contents) to REFUSE back to the
    // base scan; the oracle recomputes the slice from the raw rows.
    QueryDef(
      "q_mv_rewrite_filtered",
      (s, d) => {
        val baseSpec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-mvrf"),
          database = "graft_ops", table = "mvrf_li",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val fq = graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "lineitem"), baseSpec)
        def defSql(where: String) =
          s"""SELECT l_returnflag, count(*) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
             |    AS sum_qty
             |FROM $fq $where GROUP BY l_returnflag""".stripMargin
        val mvSpec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-mvrf-mv"),
          database = "graft_ops", table = "mvrf_mv",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val mvFq = graft.sinks.ObjectStoreSink.replaceTable(s,
          s.sql(defSql("")), mvSpec)
        graft.GraftExtensions.register(s)
        def roots(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation match {
                case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  h.location.rootPaths.map(_.toString)
                case _ => Seq("<non-fs>")
              }
          }.flatten
        graft.plans.MvRewriteRule.register("q_mvrf_mv", s.sql(defSql("")),
          () => s.table(mvFq), Seq(baseSpec))
        try {
          val df = s.sql(
            defSql("WHERE l_returnflag <> 'N'") + " ORDER BY l_returnflag")
          val r1 = roots(df)
          require(r1.nonEmpty && r1.forall(_.contains("/mvrf_mv/")),
            s"key-sliced query was not answered from the MV snapshot: $r1")
          // a member-column filter changes group contents: must refuse
          val r2 = roots(s.sql(defSql("WHERE l_quantity > 30.0")))
          require(r2.nonEmpty && r2.forall(_.contains("/mvrf_li/")),
            s"member-filtered query wrongly took the snapshot: $r2")
          df
        } finally graft.plans.MvRewriteRule.deregister("q_mvrf_mv")
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |WHERE l_returnflag <> 'N'
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- MV ROLLUP rewrite: coarser grain answers from the finer MV -------
    // The other thing real dashboards do with an MV: ask at a COARSER
    // grain ("by flag" over a "by flag x status" snapshot). The rollup
    // extension re-aggregates the snapshot — COUNT(*) rolls up as SUM of
    // the stored counts, SUM as SUM, MIN/MAX as MIN/MAX — instead of
    // re-scanning the lake; group count = MV rows, not base rows. The
    // query REQUIREs the coarser SQL to scan ONLY the snapshot and an
    // avg (underivable from the stored partials) to refuse; the oracle
    // recomputes the rollup from the raw rows.
    QueryDef(
      "q_mv_rewrite_rollup",
      (s, d) => {
        val baseSpec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-mvroll"),
          database = "graft_ops", table = "mvroll_li",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val fq = graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "lineitem"), baseSpec)
        val mvDef =
          s"""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             |  sum(l_orderkey) AS sum_ok, min(l_quantity) AS mn,
             |  max(l_quantity) AS mx
             |FROM $fq GROUP BY l_returnflag, l_linestatus""".stripMargin
        val mvSpec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-mvroll-mv"),
          database = "graft_ops", table = "mvroll_mv",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val mvFq = graft.sinks.ObjectStoreSink.replaceTable(s,
          s.sql(mvDef), mvSpec)
        graft.GraftExtensions.register(s)
        def roots(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation match {
                case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  h.location.rootPaths.map(_.toString)
                case _ => Seq("<non-fs>")
              }
          }.flatten
        graft.plans.MvRewriteRule.register("q_mvroll_mv", () => s.sql(mvDef),
          () => s.table(mvFq), Seq(baseSpec))
        try {
          val df = s.sql(
            s"""SELECT l_returnflag, count(*) AS cnt,
               |  sum(l_orderkey) AS sum_ok, min(l_quantity) AS mn,
               |  max(l_quantity) AS mx
               |FROM $fq GROUP BY l_returnflag ORDER BY l_returnflag"""
              .stripMargin)
          val r1 = roots(df)
          require(r1.nonEmpty && r1.forall(_.contains("/mvroll_mv/")),
            s"rollup was not answered from the MV snapshot: $r1")
          // an aggregate the stored partials cannot derive must refuse
          val r2 = roots(s.sql(
            s"SELECT l_returnflag, avg(l_quantity) AS a FROM $fq " +
              "GROUP BY l_returnflag"))
          require(r2.nonEmpty && r2.forall(_.contains("/mvroll_li/")),
            s"underivable rollup wrongly took the snapshot: $r2")
          df
        } finally graft.plans.MvRewriteRule.deregister("q_mvroll_mv")
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok,
             |  MIN(l_quantity) AS mn, MAX(l_quantity) AS mx
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- MV rewrite across a refresh cycle: stale refusal + auto re-arm --
    // The full lifecycle the repeated-dashboard path lives through at
    // 100 TB: (1) the rewrite fires from the registered snapshot; (2) an
    // append moves the base WITHOUT a refresh — the SAME SQL must fall
    // back to the base scan (stale snapshots are never substituted,
    // plan-REQUIREd); (3) the refresh runs inside MvRewriteRule.refreshed
    // {...} — NO manual re-register — which captures the freshness
    // watermark BEFORE the refresh reads, re-derives the canonical plan
    // against the new base resolution, and re-arms: the SAME SQL rewrites
    // again (plan-REQUIREd). The oracle recomputes the post-append
    // aggregate from the raw rows — both the refusal path and the
    // re-armed path must be invisible to results.
    QueryDef(
      "q_mv_rewrite_refresh",
      (s, d) => {
        val baseSpec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-mvrr"),
          database = "graft_ops", table = "mvrr_li",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val fq = graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "lineitem"), baseSpec)
        val defSql =
          s"""SELECT l_returnflag, count(*) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
             |    AS sum_qty
             |FROM $fq GROUP BY l_returnflag""".stripMargin
        val mvSpec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-mvrr-mv"),
          database = "graft_ops", table = "mvrr_mv",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val mvFq = graft.sinks.ObjectStoreSink.replaceTable(s,
          s.sql(defSql), mvSpec)
        graft.GraftExtensions.register(s)
        def roots(df: org.apache.spark.sql.DataFrame): Seq[String] =
          df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation match {
                case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  h.location.rootPaths.map(_.toString)
                case _ => Seq("<non-fs>")
              }
          }.flatten
        graft.plans.MvRewriteRule.register("q_mv_rewrite_refresh_mv",
          () => s.sql(defSql), () => s.table(mvFq), Seq(baseSpec))
        try {
          val q1 = roots(s.sql(defSql))
          require(q1.nonEmpty && q1.forall(_.contains("/mvrr_mv/")),
            s"initial rewrite did not fire: $q1")
          // base moves on (a fifth of the rows appended again); the stale
          // snapshot must REFUSE — the query falls back to the base scan
          graft.sinks.ObjectStoreSink.replaceTable(s,
            s.table(fq).unionAll(
              t(s, d, "lineitem").where(col("l_orderkey") % 5 === 0)),
            baseSpec)
          val q2 = roots(s.sql(defSql))
          require(q2.nonEmpty && q2.forall(_.contains("/mvrr_li/")),
            s"stale MV snapshot was substituted after a base append: $q2")
          // refresh inside refreshed{} — no manual re-register anywhere —
          // and the SAME SQL answers from the snapshot again
          graft.plans.MvRewriteRule.refreshed("q_mv_rewrite_refresh_mv") {
            graft.sinks.ObjectStoreSink.replaceTable(s, s.sql(defSql), mvSpec)
          }
          val df = s.sql(defSql + " ORDER BY l_returnflag")
          val q3 = roots(df)
          require(q3.nonEmpty && q3.forall(_.contains("/mvrr_mv/")),
            s"refresh did not re-arm the rewrite: $q3")
          df
        } finally graft.plans.MvRewriteRule.deregister("q_mv_rewrite_refresh_mv")
      },
      Some("""WITH base AS (SELECT * FROM lineitem
             |              UNION ALL
             |              SELECT * FROM lineitem WHERE l_orderkey % 5 = 0)
             |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
             |FROM base
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- SQL maintenance surface ----------------------------------------
    // The lakehouse operator verbs as PLAIN SQL (the reference's warehouse
    // exposed the same: Athena Iceberg OPTIMIZE/VACUUM) — parsed by
    // graft.plans.GraftSqlParser in front of Spark's parser, executed
    // through the real maintenance operators over the versioned-table
    // protocol. The query REQUIREs the OPTIMIZE report to show real
    // bin-packing and SHOW SNAPSHOTS to inventory both versions with the
    // row count preserved; the oracle checks the post-maintenance table
    // still answers exactly — maintenance must be invisible to results.
    QueryDef(
      "q_sql_maintenance",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-sqlmaint"),
          database = "graft_ops", table = "sqm_li",
          writeMode = "overwrite", deleteBeforeWrite = true)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "lineitem").repartition(24), spec)
        val opt = s.sql(
          s"OPTIMIZE graft_ops.sqm_li TARGET ${256L << 20} BYTES").collect()(0)
        require(opt.getString(0) == "compact" &&
          opt.getInt(2) < opt.getInt(1),
          s"OPTIMIZE did not bin-pack the fragmented table: $opt")
        val snaps = s.sql("SHOW SNAPSHOTS graft_ops.sqm_li").collect()
        require(snaps.length == 2 && snaps.last.getBoolean(5) &&
          snaps.map(_.getLong(2)).distinct.length == 1,
          s"snapshot inventory wrong after maintenance: ${snaps.toSeq}")
        s.sql(
          """SELECT l_returnflag, count(*) AS cnt,
            |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
            |    AS sum_qty
            |FROM graft_ops.sqm_li
            |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- SQL MERGE INTO on a versioned table ------------------------------
    // The reference's user-facing upsert IS this statement — it GENERATED
    // `MERGE INTO … WHEN MATCHED THEN UPDATE SET … WHEN NOT MATCHED THEN
    // INSERT …` and shipped it to Athena Iceberg (IcebergUtil.scala:124-157).
    // Here GraftSqlParser compiles the same dialect onto MergeUpsert.sqlMerge
    // + the CAS-pinned versioned commit. Two merges run: the reference's
    // explicit-list shape (with a NULL source attribute that must OVERWRITE
    // the matched row — ANSI SET semantics, NOT coalesce), then the
    // `SET * / INSERT *` shorthand on a second source. The oracle replays
    // both relationally (presence-based FULL JOINs); SHOW SNAPSHOTS must
    // inventory all three versions — MERGE is a commit, not a mutation.
    QueryDef(
      "q_sql_merge",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-sqlmerge"),
          database = "graft_ops", table = "sqlm_cust",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val cust = t(s, d, "customer")
        graft.sinks.ObjectStoreSink.replaceTable(s,
          cust.filter(col("c_nationkey") < 12)
            .select(col("c_custkey"), col("c_name"), col("c_acctbal")), spec)
        cust.filter(col("c_nationkey") >= 8)
          .select(col("c_custkey"),
            when(col("c_custkey") % 10 === 0, lit(null))
              .otherwise(col("c_name")).as("c_name"),
            (col("c_acctbal") + 100.0).as("c_acctbal"))
          .createOrReplaceTempView("sqlm_src1")
        cust.filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"), col("c_name"),
            (col("c_acctbal") * 2.0).as("c_acctbal"))
          .createOrReplaceTempView("sqlm_src2")
        val r1 = s.sql(
          """MERGE INTO graft_ops.sqlm_cust d USING sqlm_src1 s
            |ON (d.c_custkey = s.c_custkey)
            |WHEN MATCHED THEN UPDATE SET c_name = s.c_name,
            |  c_acctbal = s.c_acctbal
            |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal)
            |  VALUES (s.c_custkey, s.c_name, s.c_acctbal)""".stripMargin)
          .collect()(0)
        require(r1.getString(0) == "merge" && r1.getLong(2) > r1.getLong(1),
          s"MERGE #1 did not upsert: $r1")
        val r2 = s.sql(
          """MERGE INTO graft_ops.sqlm_cust AS t USING sqlm_src2 AS s
            |ON t.c_custkey = s.c_custkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()(0)
        require(r2.getLong(2) >= r2.getLong(1), s"MERGE #2 lost rows: $r2")
        val snaps = s.sql("SHOW SNAPSHOTS graft_ops.sqlm_cust").collect()
        require(snaps.length == 3 && snaps.last.getBoolean(5),
          s"MERGE commits must be versioned snapshots: ${snaps.toSeq}")
        s.table("graft_ops.sqlm_cust").orderBy("c_custkey")
      },
      Some("""WITH t0 AS (SELECT c_custkey, c_name, c_acctbal
             |            FROM customer WHERE c_nationkey < 12),
             |s1 AS (SELECT c_custkey,
             |         CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_name END AS c_name,
             |         c_acctbal + 100.0 AS c_acctbal
             |       FROM customer WHERE c_nationkey >= 8),
             |t1 AS (SELECT
             |         CASE WHEN s1.c_custkey IS NOT NULL THEN s1.c_custkey ELSE t0.c_custkey END AS c_custkey,
             |         CASE WHEN s1.c_custkey IS NOT NULL THEN s1.c_name ELSE t0.c_name END AS c_name,
             |         CASE WHEN s1.c_custkey IS NOT NULL THEN s1.c_acctbal ELSE t0.c_acctbal END AS c_acctbal
             |       FROM t0 FULL JOIN s1 ON t0.c_custkey = s1.c_custkey),
             |s2 AS (SELECT c_custkey, c_name, c_acctbal * 2.0 AS c_acctbal
             |       FROM customer WHERE c_custkey % 3 = 0)
             |SELECT
             |  CASE WHEN s2.c_custkey IS NOT NULL THEN s2.c_custkey ELSE t1.c_custkey END AS c_custkey,
             |  CASE WHEN s2.c_custkey IS NOT NULL THEN s2.c_name ELSE t1.c_name END AS c_name,
             |  CASE WHEN s2.c_custkey IS NOT NULL THEN s2.c_acctbal ELSE t1.c_acctbal END AS c_acctbal
             |FROM t1 FULL JOIN s2 ON t1.c_custkey = s2.c_custkey
             |ORDER BY c_custkey""".stripMargin)),

    // ---- SQL DELETE FROM on a versioned table -----------------------------
    // Reference deleteData (IcebergUtil.scala:90-103) generalized with the
    // WHERE form. ANSI semantics under test: a row deletes iff the predicate
    // is TRUE — the NULLed-out totals (every 7th key) must SURVIVE a
    // `tp > cut` delete, which a naive `filter(NOT pred)` without NULL
    // handling would destroy. The delete is a CAS-pinned versioned commit:
    // the pre-delete snapshot stays time-travel-readable.
    QueryDef(
      "q_sql_delete",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-sqldel"),
          database = "graft_ops", table = "sdel_ord",
          writeMode = "overwrite", deleteBeforeWrite = true)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"),
            when(col("o_orderkey") % 7 === 0, lit(null))
              .otherwise(col("o_totalprice")).as("tp")), spec)
        val r = s.sql(
          "DELETE FROM graft_ops.sdel_ord WHERE tp > 150000.0").collect()(0)
        require(r.getLong(1) > 0 && r.getLong(1) < r.getLong(0),
          s"DELETE removed nothing or everything: $r")
        // the pre-delete snapshot must still read in full (time travel)
        val before = graft.sinks.ObjectStoreSink.readVersion(
          s, graft.sinks.ObjectStoreSink.specFor(s, "graft_ops", "sdel_ord"),
          Some(1)).count()
        require(before == r.getLong(0),
          s"pre-delete snapshot lost rows: $before != ${r.getLong(0)}")
        s.table("graft_ops.sdel_ord").orderBy("o_orderkey")
      },
      Some("""WITH t AS (SELECT o_orderkey, o_orderstatus,
             |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS tp
             |  FROM orders)
             |SELECT o_orderkey, o_orderstatus, tp FROM t
             |WHERE tp IS NULL OR tp <= 150000.0
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- SQL UPDATE on a versioned table ----------------------------------
    // The ANSI sibling completing the DML triad (the reference generated
    // MERGE and DELETE; UPDATE is the natural third verb the same users
    // type). Semantics under test: assignments evaluate against the
    // PRE-update row, only predicate-TRUE rows change (NULL bal rows must
    // carry through untouched), multiple assignments apply atomically, and
    // the commit is CAS-pinned and versioned like every other write.
    QueryDef(
      "q_sql_update",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-sqlupd"),
          database = "graft_ops", table = "supd_cust",
          writeMode = "overwrite", deleteBeforeWrite = true)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "customer").select(col("c_custkey"),
            col("c_mktsegment").as("seg"),
            when(col("c_custkey") % 9 === 0, lit(null))
              .otherwise(col("c_acctbal")).as("bal")), spec)
        val r = s.sql(
          """UPDATE graft_ops.supd_cust
            |SET bal = bal * 2.0 + 1.0, seg = concat(seg, '-upd')
            |WHERE bal > 5000.0""".stripMargin).collect()(0)
        require(r.getLong(1) > 0 && r.getLong(1) < r.getLong(0),
          s"UPDATE touched nothing or everything: $r")
        val snaps = s.sql("SHOW SNAPSHOTS graft_ops.supd_cust").collect()
        require(snaps.length == 2 &&
          snaps.map(_.getLong(2)).distinct.length == 1,
          s"UPDATE must be a row-preserving versioned commit: ${snaps.toSeq}")
        s.table("graft_ops.supd_cust").orderBy("c_custkey")
      },
      Some("""WITH t AS (SELECT c_custkey, c_mktsegment AS seg,
             |  CASE WHEN c_custkey % 9 = 0 THEN NULL ELSE c_acctbal END AS bal
             |  FROM customer)
             |SELECT c_custkey,
             |  CASE WHEN bal > 5000.0 THEN seg || '-upd' ELSE seg END AS seg,
             |  CASE WHEN bal > 5000.0 THEN bal * 2.0 + 1.0 ELSE bal END AS bal
             |FROM t ORDER BY c_custkey""".stripMargin)),

    // ---- SQL INSERT INTO on a versioned table (link-append commit) --------
    // Completes the DML surface. The semantics under test are ANSI (explicit
    // column list maps positionally and NULL-fills the rest; no list is
    // strict positional; values cast to target types), but the SCALE
    // property is the point: the commit writes ONLY the new rows and hard-
    // links the prior snapshot's immutable files into the next version dir
    // (same inode, REQUIREd below via Files.isSameFile), so INSERT INTO a
    // 100 TB table costs O(batch + file count), never a table rewrite. The
    // manifest carries the linked files' stats verbatim (only new footers
    // are read) and the Bloom sidecar extends over just the new files.
    QueryDef(
      "q_sql_insert",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-sqlins"),
          database = "graft_ops", table = "sins_part",
          writeMode = "overwrite", deleteBeforeWrite = true)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "part").filter(col("p_partkey") % 3 =!= 0)
            .select(col("p_partkey"), col("p_name"), col("p_retailprice")),
          spec)
        // #1: explicit column list + VALUES; p_name is NULL-filled (ANSI)
        val r1 = s.sql(
          """INSERT INTO graft_ops.sins_part (p_partkey, p_retailprice)
            |VALUES (9000001, 1.5), (9000002, NULL)""".stripMargin).collect()(0)
        require(r1.getLong(0) == 2L && r1.getInt(1) > 0,
          s"INSERT #1 wrong report: $r1")
        // #2: positional INSERT … SELECT of the held-out rows
        t(s, d, "part").filter(col("p_partkey") % 3 === 0)
          .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
          .createOrReplaceTempView("sins_src")
        val r2 = s.sql(
          """INSERT INTO graft_ops.sins_part
            |SELECT p_partkey, p_name, p_retailprice FROM sins_src""".stripMargin)
          .collect()(0)
        require(r2.getLong(0) > 0, s"INSERT #2 inserted nothing: $r2")
        val snaps = s.sql("SHOW SNAPSHOTS graft_ops.sins_part").collect()
        val counts = snaps.map(_.getLong(2)).toSeq
        require(snaps.length == 3 && counts == counts.sorted &&
          counts(1) == counts(0) + 2,
          s"INSERT commits must be additive versioned snapshots: ${snaps.toSeq}")
        // the scale property itself: v3 shares inodes with v2's data files
        // (the append LINKED the prior files rather than rewriting them) —
        // degrade-to-copy filesystems would fail this REQUIRE, which is
        // exactly the signal we want on the POSIX test rig
        val spec2 = graft.sinks.ObjectStoreSink.specFor(s, "graft_ops", "sins_part")
        val vs = graft.sinks.ObjectStoreSink.snapshots(spec2)
        val (v2, v3) = (java.nio.file.Paths.get(vs(1).path),
          java.nio.file.Paths.get(vs(2).path))
        val shared = graft.sinks.TableManifest.read(v2).get.files.count { e =>
          val a = v2.resolve(e.path); val b = v3.resolve(e.path)
          java.nio.file.Files.exists(b) && java.nio.file.Files.isSameFile(a, b)
        }
        require(shared > 0, "link-append commit shared no inodes with the " +
          "prior version — the append degenerated to a rewrite")
        // time travel: the pre-insert snapshot still reads in full
        require(graft.sinks.ObjectStoreSink.readVersion(s, spec2, Some(1))
          .count() == vs(0).rowCount, "pre-insert snapshot lost rows")
        s.table("graft_ops.sins_part").orderBy("p_partkey")
      },
      Some("""WITH seed AS (SELECT p_partkey, p_name, p_retailprice
             |             FROM part WHERE p_partkey % 3 <> 0),
             |ins1 AS (SELECT CAST(9000001 AS BIGINT) AS p_partkey,
             |                CAST(NULL AS VARCHAR) AS p_name,
             |                CAST(1.5 AS DOUBLE) AS p_retailprice
             |         UNION ALL
             |         SELECT CAST(9000002 AS BIGINT),
             |                CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)),
             |ins2 AS (SELECT p_partkey, p_name, p_retailprice
             |         FROM part WHERE p_partkey % 3 = 0)
             |SELECT * FROM seed
             |UNION ALL SELECT * FROM ins1
             |UNION ALL SELECT * FROM ins2
             |ORDER BY p_partkey""".stripMargin)),

    // ---- SQL INSERT OVERWRITE + TRUNCATE TABLE ----------------------------
    // The remaining write verbs, both protocol commits rather than Spark's
    // v1 behavior (OVERWRITE would DELETE the live version dir's files
    // behind the manifest; TRUNCATE refuses on external tables outright).
    // Sequence under test: seed → TRUNCATE (empty version, schema kept) →
    // INSERT INTO the empty table refills it → INSERT OVERWRITE replaces
    // the content wholesale. Every step is a CAS-pinned versioned commit:
    // SHOW SNAPSHOTS must inventory all four with the right row counts and
    // the ORIGINAL image must still time-travel-read after everything.
    QueryDef(
      "q_sql_overwrite",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-sqlow"),
          database = "graft_ops", table = "sow_sup",
          writeMode = "overwrite", deleteBeforeWrite = true)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          t(s, d, "supplier").select(col("s_suppkey"), col("s_name"),
            col("s_nationkey")), spec)
        val r1 = s.sql("TRUNCATE TABLE graft_ops.sow_sup").collect()(0)
        require(r1.getLong(0) > 0 && s.table("graft_ops.sow_sup").count() == 0,
          s"TRUNCATE left rows: $r1")
        t(s, d, "supplier").filter(col("s_suppkey") % 2 === 0)
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
          .createOrReplaceTempView("sow_half")
        s.sql("""INSERT INTO graft_ops.sow_sup
                |SELECT s_suppkey, s_name, s_nationkey FROM sow_half"""
          .stripMargin).collect()
        val r3 = s.sql(
          """INSERT OVERWRITE TABLE graft_ops.sow_sup (s_suppkey, s_nationkey)
            |SELECT s_suppkey, s_nationkey FROM sow_half
            |WHERE s_nationkey < 13""".stripMargin).collect()(0)
        require(r3.getLong(0) > 0, s"OVERWRITE wrote nothing: $r3")
        val counts = s.sql("SHOW SNAPSHOTS graft_ops.sow_sup").collect()
          .map(_.getLong(2)).toSeq
        require(counts.length == 4 && counts(1) == 0L &&
          counts(3) <= counts(2),
          s"verb sequence produced wrong snapshot inventory: $counts")
        // the pre-truncate image still reads in full
        val spec2 = graft.sinks.ObjectStoreSink.specFor(s, "graft_ops", "sow_sup")
        require(graft.sinks.ObjectStoreSink.readVersion(s, spec2, Some(1))
          .count() == counts(0), "pre-truncate snapshot lost rows")
        s.table("graft_ops.sow_sup").orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, CAST(NULL AS VARCHAR) AS s_name, s_nationkey
             |FROM supplier
             |WHERE s_suppkey % 2 = 0 AND s_nationkey < 13
             |ORDER BY s_suppkey""".stripMargin)),

    // ---- SQL CREATE TABLE … USING GRAFT AS SELECT -------------------------
    // The first verb of the lifecycle: a pure-SQL user can now CREATE a
    // manifest-committed versioned table (with sum-maintained and bloom-
    // indexed columns declared as OPTIONS), then drive every other verb on
    // it. Gates: the created table answers SUM from metadata with ZERO
    // scans (proving the sums option flowed through the commit), carries a
    // bloom shard for the declared column, link-appends via INSERT INTO,
    // re-CREATE without OR REPLACE refuses, and OR REPLACE commits a NEW
    // version with the original still time-travel-readable.
    QueryDef(
      "q_sql_ctas",
      (s, d) => {
        val scratch = graft.Scratch.fresh("graft-sqlctas")
        // re-runnable in one session (Bench repeats 3x): the catalog entry
        // from a prior invocation must not trip the CREATE refusal under
        // test — the refusal case is exercised within the invocation below
        s.sql("DROP TABLE IF EXISTS graft_ops.ctas_ord")
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")).createOrReplaceTempView("ctas_src")
        val r1 = s.sql(
          s"""CREATE TABLE graft_ops.ctas_ord USING GRAFT
             |OPTIONS (path '$scratch', sums 'amount', blooms 'o_orderkey')
             |PARTITIONED BY (o_orderstatus) AS
             |SELECT o_orderkey, o_orderstatus,
             |       CAST(o_totalprice AS DECIMAL(14,2)) AS amount
             |FROM ctas_src WHERE o_orderkey % 4 <> 0""".stripMargin)
          .collect()(0)
        require(r1.getInt(1) >= 1 && r1.getLong(0) > 0,
          s"CTAS wrote nothing: $r1")
        // the declared sums flowed through: metadata-only SUM, zero scans
        val q = s.sql(
          "SELECT sum(amount) AS sa FROM graft_ops.ctas_ord")
        require(q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
        }.isEmpty, s"CTAS sums option did not reach the manifest:\n" +
          s"${q.queryExecution.optimizedPlan}")
        // the declared bloom column has a live shard
        val spec = graft.sinks.ObjectStoreSink.specFor(s, "graft_ops", "ctas_ord")
        val vdir = java.nio.file.Paths.get(
          graft.sinks.ObjectStoreSink.snapshots(spec).last.path)
        require(graft.sinks.BloomIndex.readCol(vdir, "o_orderkey").nonEmpty,
          "CTAS blooms option did not build a shard")
        // plain CREATE on the existing table refuses loudly
        val dup = try {
          s.sql("CREATE TABLE graft_ops.ctas_ord USING GRAFT AS " +
            "SELECT 1 AS x").collect(); false
        } catch { case _: graft.model.PipelineSpecException => true }
        require(dup, "re-CREATE without OR REPLACE must refuse")
        // the held-out rows arrive by link-append INSERT
        s.sql("""INSERT INTO graft_ops.ctas_ord
                |SELECT o_orderkey,
                |       CAST(o_totalprice AS DECIMAL(14,2)) AS amount,
                |       o_orderstatus
                |FROM ctas_src WHERE o_orderkey % 4 = 0""".stripMargin)
          .collect()
        val snaps = s.sql("SHOW SNAPSHOTS graft_ops.ctas_ord").collect()
        require(snaps.length == 2 &&
          snaps(1).getLong(2) > snaps(0).getLong(2),
          s"CTAS + INSERT must inventory two additive versions: ${snaps.toSeq}")
        s.sql("""SELECT o_orderkey, o_orderstatus,
                |       CAST(amount AS DOUBLE) AS amount
                |FROM graft_ops.ctas_ord ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_orderstatus,
             |       CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE)
             |         AS amount
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- SQL time travel --------------------------------------------------
    // The read side of versioning as PLAIN SQL (r13 verdict #2): the
    // reference's lake tables were Athena Iceberg where `FOR TIMESTAMP AS
    // OF` is part of the delegated surface (IcebergUtil.scala:28-157);
    // here `t VERSION AS OF n` / `t TIMESTAMP AS OF 'ts'` rewrite to a
    // temp view pinned on the resolved committed snapshot, composing with
    // any statement shape. The fixture drives a full DML lifecycle
    // (CTAS → DELETE → UPDATE), then REQUIREs: the live image reflects
    // both verbs, VERSION AS OF 2 shows the delete but not the update,
    // TIMESTAMP AS OF at v1's commit time resolves to v1's row count,
    // and the final SELECT replays the ORIGINAL image — which the oracle
    // reproduces from the raw table.
    QueryDef(
      "q_sql_time_travel",
      (s, d) => {
        val scratch = graft.Scratch.fresh("graft-sqltravel")
        s.sql("DROP TABLE IF EXISTS graft_ops.ttv_part")
        t(s, d, "part")
          .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
          .createOrReplaceTempView("ttv_src")
        s.sql(
          s"""CREATE TABLE graft_ops.ttv_part USING GRAFT
             |OPTIONS (path '$scratch') AS
             |SELECT * FROM ttv_src""".stripMargin).collect()
        val fq = "graft_ops.ttv_part"
        val v1rows = s.table(fq).count()
        s.sql(s"DELETE FROM $fq WHERE p_partkey % 2 = 0").collect()
        s.sql(
          s"""UPDATE $fq SET p_retailprice = p_retailprice + 1.0
             |WHERE p_partkey % 3 = 0""".stripMargin).collect()
        // v2 reflects the delete but NOT the update
        require(s.sql(s"SELECT count(*) AS c FROM $fq VERSION AS OF 2 " +
          "WHERE p_partkey % 2 = 0").head.getLong(0) == 0L,
          "VERSION AS OF 2 must reflect the delete")
        val updDiff = s.sql(
          s"""SELECT count(*) AS c FROM $fq a
             |JOIN $fq VERSION AS OF 2 b ON a.p_partkey = b.p_partkey
             |WHERE a.p_retailprice <> b.p_retailprice""".stripMargin)
          .head.getLong(0)
        require(updDiff > 0, "live image must differ from v2 by the UPDATE")
        // TIMESTAMP AS OF at v1's commit instant resolves to the latest
        // snapshot at-or-before it (self-consistent even under same-ms
        // commits)
        val snaps = s.sql(s"SHOW SNAPSHOTS $fq").collect()
        val v1ms = snaps.head.getLong(1)
        val expectRows = snaps.filter(_.getLong(1) <= v1ms).last.getLong(2)
        val lit = java.time.LocalDateTime.ofInstant(
          java.time.Instant.ofEpochMilli(v1ms),
          java.time.ZoneId.of(s.conf.get("spark.sql.session.timeZone")))
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
        require(s.sql(s"SELECT count(*) AS c FROM $fq TIMESTAMP AS OF " +
          s"'$lit'").head.getLong(0) == expectRows,
          "TIMESTAMP AS OF must resolve against committed_at_ms")
        require(v1rows == snaps.head.getLong(2),
          "snapshot inventory lost v1's row count")
        s.sql(s"""SELECT p_partkey, p_name, p_retailprice
                 |FROM $fq VERSION AS OF 1
                 |ORDER BY p_partkey""".stripMargin)
      },
      Some("""SELECT p_partkey, p_name, p_retailprice
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---- SQL schema evolution (metadata-only widening) --------------------
    // `ALTER TABLE … ADD COLUMNS` as a VERSIONED commit that reads and
    // writes ZERO data: every prior file hard-links (REQUIREd: the
    // report's files_linked equals the snapshot's file count AND the
    // inodes are shared on disk) and a _schema.json sidecar pins the
    // widened shape — the Iceberg/Delta evolution discipline (the
    // reference's lake tables are Athena Iceberg, which evolves the same
    // way; Spark's own v1 ALTER would mutate the catalog behind the
    // manifest). The fixture then exercises the widened table through
    // the whole DML surface — INSERT with the new arity, an UPDATE
    // filling the new column over MIXED old/new files — and REQUIREs
    // time travel to keep the pre-evolution shape. The oracle replays
    // the final image relationally.
    QueryDef(
      "q_sql_evolve",
      (s, d) => {
        val scratch = graft.Scratch.fresh("graft-sqlevolve")
        s.sql("DROP TABLE IF EXISTS graft_ops.evo_part")
        t(s, d, "part").select(col("p_partkey"), col("p_name"),
          col("p_retailprice")).createOrReplaceTempView("evo_src")
        s.sql(
          s"""CREATE TABLE graft_ops.evo_part USING GRAFT
             |OPTIONS (path '$scratch') AS
             |SELECT p_partkey, p_name FROM evo_src
             |WHERE p_partkey % 3 <> 0""".stripMargin).collect()
        val fq = "graft_ops.evo_part"
        val nFiles = s.sql(s"SHOW SNAPSHOTS $fq").collect().last.getInt(4)
        val r = s.sql(s"ALTER TABLE $fq ADD COLUMNS (price DOUBLE)")
          .collect()(0)
        require(r.getInt(0) == 1 && r.getInt(1) == nFiles,
          s"evolution must LINK all $nFiles files (report: $r)")
        // the links are real inodes, not copies
        val spec = graft.sinks.ObjectStoreSink.specFor(s, "graft_ops", "evo_part")
        val vs = graft.sinks.ObjectStoreSink.snapshots(spec)
        val prev = java.nio.file.Paths.get(vs(vs.size - 2).path)
        val live = java.nio.file.Paths.get(vs.last.path)
        val shared = graft.sinks.TableManifest.read(prev).get.files.count { e =>
          val a = prev.resolve(e.path); val b = live.resolve(e.path)
          java.nio.file.Files.exists(b) &&
            java.nio.file.Files.isSameFile(a, b)
        }
        require(shared == nFiles,
          s"evolution shared $shared/$nFiles inodes — it rewrote data")
        require(s.table(fq).where("price IS NOT NULL").count() == 0L,
          "pre-evolution rows must read the new column as NULL")
        // the widened arity is live for INSERT of the held-out rows
        s.sql(s"""INSERT INTO $fq
                 |SELECT p_partkey, p_name, p_retailprice FROM evo_src
                 |WHERE p_partkey % 3 = 0""".stripMargin).collect()
        // an UPDATE over MIXED old/new files fills the new column
        s.sql(s"UPDATE $fq SET price = 0.0 WHERE pmod(p_partkey, 10) = 0")
          .collect()
        // time travel keeps each version's own shape
        require(s.sql(s"SELECT * FROM $fq VERSION AS OF 1")
          .columns.length == 2,
          "the pre-evolution snapshot must keep the 2-column shape")
        s.sql(s"""SELECT p_partkey, p_name, price
                 |FROM $fq ORDER BY p_partkey""".stripMargin)
      },
      Some("""SELECT p_partkey, p_name,
             |  CASE WHEN p_partkey % 10 = 0 THEN 0.0
             |       WHEN p_partkey % 3 = 0 THEN p_retailprice
             |       ELSE NULL END AS price
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---- SQL schema evolution: DROP + RENAME (metadata-only) --------------
    // The narrowing/renaming half of the evolution surface (r14 verdict
    // #4): `ALTER TABLE … DROP COLUMN` and `… RENAME COLUMN … TO …` as
    // link-all commits that read and write ZERO data — DROP narrows the
    // pinned sidecar (the physical column simply stops being requested;
    // its name is retired against resurrection), RENAME keeps the
    // physical namespace stable forever (sidecar maps logical→physical,
    // later writes physicalize, every read maps back). REQUIREs pin the
    // links as real inodes, the post-rename INSERT writing the ORIGINAL
    // physical name, time travel keeping each version's own shape, and
    // the resurrection guard refusing. The oracle replays the final image.
    QueryDef(
      "q_sql_evolve2",
      (s, d) => {
        val scratch = graft.Scratch.fresh("graft-sqlevolve2")
        s.sql("DROP TABLE IF EXISTS graft_ops.evo2_part")
        t(s, d, "part").select(col("p_partkey"), col("p_name"),
          col("p_retailprice"), col("p_size"))
          .createOrReplaceTempView("evo2_src")
        s.sql(
          s"""CREATE TABLE graft_ops.evo2_part USING GRAFT
             |OPTIONS (path '$scratch') AS
             |SELECT p_partkey, p_name, p_retailprice, p_size FROM evo2_src
             |WHERE p_partkey % 3 <> 0""".stripMargin).collect()
        val fq = "graft_ops.evo2_part"
        val nFiles = s.sql(s"SHOW SNAPSHOTS $fq").collect().last.getInt(4)
        def sharedWithPrev(): Int = {
          val spec = graft.sinks.ObjectStoreSink.specFor(s, "graft_ops",
            "evo2_part")
          val vs = graft.sinks.ObjectStoreSink.snapshots(spec)
          val prev = java.nio.file.Paths.get(vs(vs.size - 2).path)
          val live = java.nio.file.Paths.get(vs.last.path)
          graft.sinks.TableManifest.read(prev).get.files.count { e =>
            val b = live.resolve(e.path)
            java.nio.file.Files.exists(b) &&
              java.nio.file.Files.isSameFile(prev.resolve(e.path), b)
          }
        }
        // DROP: all files linked, zero data moved
        val r1 = s.sql(s"ALTER TABLE $fq DROP COLUMN p_size").collect()(0)
        require(r1.getInt(1) == nFiles && sharedWithPrev() == nFiles,
          s"DROP COLUMN must link all $nFiles files (report $r1)")
        // RENAME: all files linked; reads map the physical name back
        val r2 = s.sql(
          s"ALTER TABLE $fq RENAME COLUMN p_retailprice TO price")
          .collect()(0)
        require(r2.getInt(1) == nFiles && sharedWithPrev() == nFiles,
          s"RENAME COLUMN must link all $nFiles files (report $r2)")
        // resurrection of the dropped physical name refuses loudly
        val guarded =
          try { s.sql(s"ALTER TABLE $fq ADD COLUMNS (p_size INT)"); false }
          catch { case e: Exception => e.getMessage.contains("retired") }
        require(guarded, "re-adding a dropped physical column must refuse")
        // INSERT under the evolved arity: the fresh file must carry the
        // ORIGINAL physical name (p_retailprice), never the logical one
        s.sql(s"""INSERT INTO $fq
                 |SELECT p_partkey, p_name, p_retailprice FROM evo2_src
                 |WHERE p_partkey % 3 = 0""".stripMargin).collect()
        val spec = graft.sinks.ObjectStoreSink.specFor(s, "graft_ops",
          "evo2_part")
        val live = java.nio.file.Paths.get(
          graft.sinks.ObjectStoreSink.snapshots(spec).last.path)
        val freshRel = graft.sinks.TableManifest.read(live).get.files
          .map(_.path).toSet --
          graft.sinks.TableManifest.read(java.nio.file.Paths.get(
            graft.sinks.ObjectStoreSink.snapshots(spec)
              .dropRight(1).last.path)).get.files.map(_.path).toSet
        require(freshRel.nonEmpty, "INSERT must write fresh files")
        val footer = s.read.parquet(
          live.resolve(freshRel.head).toString).columns.toSet
        require(footer.contains("p_retailprice") && !footer.contains("price"),
          s"post-rename INSERT must physicalize the batch (footer: $footer)")
        // an UPDATE through the LOGICAL name over mixed old/new files
        s.sql(s"UPDATE $fq SET price = 0.0 WHERE pmod(p_partkey, 10) = 0")
          .collect()
        // time travel keeps every version's own shape
        require(s.sql(s"SELECT * FROM $fq VERSION AS OF 1")
          .columns.toSeq == Seq("p_partkey", "p_name", "p_retailprice",
            "p_size"),
          "v1 must keep the original 4-column shape")
        require(s.sql(s"SELECT * FROM $fq VERSION AS OF 2")
          .columns.toSeq == Seq("p_partkey", "p_name", "p_retailprice"),
          "v2 (post-DROP) must be the narrowed shape under the old name")
        require(s.sql(s"SELECT * FROM $fq VERSION AS OF 3")
          .columns.toSeq == Seq("p_partkey", "p_name", "price"),
          "v3 (post-RENAME) must read under the new logical name")
        s.sql(s"""SELECT p_partkey, p_name, price
                 |FROM $fq ORDER BY p_partkey""".stripMargin)
      },
      Some("""SELECT p_partkey, p_name,
             |  CASE WHEN p_partkey % 10 = 0 THEN 0.0
             |       ELSE p_retailprice END AS price
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---- SQL schema evolution: safe type widening (metadata-only) ---------
    // `ALTER TABLE … ALTER COLUMN c TYPE t` as a link-all commit that
    // reads and writes ZERO data: the sidecar pins the WIDENED type and
    // the parquet reader up-casts each file's own footer width to the
    // requested schema (the Delta type-widening discipline, SPARK-40876;
    // the reference's model rewrites a new table version on ANY type
    // change — DatasetObjectStoreUtil.scala:71-100). REQUIREs pin the
    // links as real inodes, a value no INT could hold landing through
    // the widened column, mixed narrow/wide files aggregating exactly,
    // time travel keeping each version's own width, and a lossy retype
    // refusing. The oracle replays the final image relationally.
    QueryDef(
      "q_sql_widen",
      (s, d) => {
        val scratch = graft.Scratch.fresh("graft-sqlwiden")
        s.sql("DROP TABLE IF EXISTS graft_ops.wid_part")
        t(s, d, "part").select(
            col("p_partkey").cast("int").as("pk"), col("p_name"),
            col("p_retailprice").cast("decimal(7,2)").as("price"))
          .createOrReplaceTempView("wid_src")
        s.sql(
          s"""CREATE TABLE graft_ops.wid_part USING GRAFT
             |OPTIONS (path '$scratch') AS
             |SELECT * FROM wid_src""".stripMargin).collect()
        val fq = "graft_ops.wid_part"
        val nFiles = s.sql(s"SHOW SNAPSHOTS $fq").collect().last.getInt(4)
        val r = s.sql(s"ALTER TABLE $fq ALTER COLUMN pk TYPE BIGINT")
          .collect()(0)
        require(r.getString(1) == "INT" && r.getString(2) == "BIGINT" &&
          r.getInt(3) == nFiles,
          s"widening must LINK all $nFiles files metadata-only (report: $r)")
        val spec = graft.sinks.ObjectStoreSink.specFor(s, "graft_ops",
          "wid_part")
        val vs = graft.sinks.ObjectStoreSink.snapshots(spec)
        val prev = java.nio.file.Paths.get(vs(vs.size - 2).path)
        val live = java.nio.file.Paths.get(vs.last.path)
        val shared = graft.sinks.TableManifest.read(prev).get.files.count { e =>
          val b = live.resolve(e.path)
          java.nio.file.Files.exists(b) &&
            java.nio.file.Files.isSameFile(prev.resolve(e.path), b)
        }
        require(shared == nFiles,
          s"widening shared $shared/$nFiles inodes — it rewrote data")
        require(s.table(fq).schema("pk").dataType.sql == "BIGINT",
          "the catalog must surface the widened type")
        // a key no INT could hold lands through the widened column and
        // reads back alongside the narrow-footer files
        s.sql(s"INSERT INTO $fq VALUES (3000000000, 'widebeyond', 1.00)")
          .collect()
        require(s.table(fq).where("pk > 2147483647").count() == 1L,
          "the beyond-INT key must be visible")
        // widen the decimal, then push a value no DECIMAL(7,2) holds
        s.sql(s"ALTER TABLE $fq ALTER COLUMN price TYPE DECIMAL(12,2)")
          .collect()
        s.sql(s"UPDATE $fq SET price = 999999999.99 WHERE pk = 3000000000")
          .collect()
        // each version keeps its own width under time travel
        val v1 = s.sql(s"SELECT * FROM $fq VERSION AS OF 1").schema
        require(v1("pk").dataType.sql == "INT" &&
          v1("price").dataType.sql == "DECIMAL(7,2)",
          "v1 must keep the narrow types")
        // a lossy retype refuses loudly
        val refused =
          try { s.sql(s"ALTER TABLE $fq ALTER COLUMN pk TYPE DOUBLE"); false }
          catch { case e: Exception => e.getMessage.contains("lossless") }
        require(refused, "BIGINT -> DOUBLE (lossy above 2^53) must refuse")
        // the driver's hash compare stringifies — project the decimal as
        // DOUBLE on both sides (the REQUIREs above exercised the real
        // decimal semantics)
        s.sql(s"""SELECT pk, p_name, CAST(price AS DOUBLE) AS price
                 |FROM $fq ORDER BY pk""".stripMargin)
      },
      Some("""SELECT CAST(p_partkey AS BIGINT) AS pk, p_name,
             |  CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS price
             |FROM part
             |UNION ALL
             |SELECT CAST(3000000000 AS BIGINT), 'widebeyond',
             |  CAST(CAST(999999999.99 AS DECIMAL(12,2)) AS DOUBLE)
             |ORDER BY pk""".stripMargin)),

    // ---- Change feed: TABLE_CHANGES over the versioned manifests ----------
    // The Delta CDF / Iceberg changelog-read capability derived entirely
    // from the commit protocol's own manifests — row-level insert/delete
    // change rows per commit step, computed from the MANIFEST FILE DIFF
    // so link-carried files are never read (REQUIREd below: an INSERT
    // step's feed scans only the fresh files), a COW UPDATE surfaces as
    // its delete+insert pair, and rewritten-but-identical rows cancel in
    // the bag difference. The oracle replays the whole lifecycle's
    // expected change rows relationally.
    QueryDef(
      "q_table_changes",
      (s, d) => {
        val scratch = graft.Scratch.fresh("graft-tblchg")
        s.sql("DROP TABLE IF EXISTS graft_ops.chg_orders")
        t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
          .createOrReplaceTempView("chg_src")
        s.sql(
          s"""CREATE TABLE graft_ops.chg_orders USING GRAFT
             |OPTIONS (path '$scratch') AS
             |SELECT * FROM chg_src WHERE o_orderkey % 5 <> 0""".stripMargin)
          .collect()
        val fq = "graft_ops.chg_orders"
        s.sql(s"""INSERT INTO $fq
                 |SELECT * FROM chg_src WHERE o_orderkey % 5 = 0"""
          .stripMargin).collect() // v2: link-append
        s.sql(s"DELETE FROM $fq WHERE o_orderkey % 7 = 0").collect() // v3
        s.sql(s"UPDATE $fq SET o_totalprice = 0.0 WHERE o_orderkey % 11 = 0")
          .collect() // v4: COW delete+insert pairs
        // O(delta) REQUIRE: the link-append step's feed scans ONLY the
        // fresh files, never the carried snapshot
        val spec = graft.sinks.ObjectStoreSink.specFor(s, "graft_ops",
          "chg_orders")
        val stepFeed = s.sql(s"SELECT * FROM TABLE_CHANGES('$fq', 1, 2)")
        val totalFiles = graft.sinks.ObjectStoreSink.snapshots(spec)
          .find(_.version == 2).get.nFiles
        require(stepFeed.inputFiles.nonEmpty &&
          stepFeed.inputFiles.length < totalFiles,
          s"the INSERT step's feed must scan only the fresh files " +
            s"(${stepFeed.inputFiles.length} of $totalFiles)")
        // an empty window is a typed empty feed
        require(s.sql(s"SELECT * FROM TABLE_CHANGES('$fq', 4, 4)")
          .count() == 0L, "an empty window must feed zero rows")
        s.sql(
          s"""SELECT o_orderkey, o_totalprice, _change_type, _commit_version
             |FROM TABLE_CHANGES('$fq', 1, 4)
             |ORDER BY _commit_version, o_orderkey, _change_type,
             |  o_totalprice""".stripMargin)
      },
      Some("""WITH base AS
             |  (SELECT o_orderkey AS k, o_totalprice AS p FROM orders)
             |SELECT k AS o_orderkey, p AS o_totalprice,
             |  'insert' AS _change_type, 2 AS _commit_version
             |FROM base WHERE k % 5 = 0
             |UNION ALL
             |SELECT k, p, 'delete', 3 FROM base WHERE k % 7 = 0
             |UNION ALL
             |SELECT k, p, 'delete', 4 FROM base
             |WHERE k % 11 = 0 AND k % 7 <> 0
             |UNION ALL
             |SELECT k, 0.0, 'insert', 4 FROM base
             |WHERE k % 11 = 0 AND k % 7 <> 0
             |ORDER BY _commit_version, o_orderkey, _change_type,
             |  o_totalprice""".stripMargin)),

    // ---- SHALLOW CLONE: zero-copy table clone -----------------------------
    // `CREATE TABLE t2 SHALLOW CLONE t [VERSION AS OF n]` — a metadata
    // commit whose v1 manifest REFERENCES every file of the source
    // snapshot (Delta shallow-clone / Iceberg snapshot-ref economics):
    // REQUIREd zero data files written, every entry resolving into the
    // source's own version dir, and full independence both ways (the
    // clone's COW UPDATE never touches the source; the source's earlier
    // DELETE is invisible to a clone pinned at v1). The oracle replays
    // the clone's final image relationally.
    QueryDef(
      "q_sql_clone",
      (s, d) => {
        val scratch = graft.Scratch.fresh("graft-sqlclone")
        s.sql("DROP TABLE IF EXISTS graft_ops.cl_src")
        s.sql("DROP TABLE IF EXISTS graft_ops.cl_tgt")
        t(s, d, "customer").select(col("c_custkey"), col("c_name"),
            col("c_acctbal").as("bal"))
          .createOrReplaceTempView("cl_seed")
        s.sql(
          s"""CREATE TABLE graft_ops.cl_src USING GRAFT
             |OPTIONS (path '$scratch') AS
             |SELECT * FROM cl_seed""".stripMargin).collect()
        val srcFq = "graft_ops.cl_src"
        // the source moves on: a DELETE the v1-pinned clone must not see
        s.sql(s"DELETE FROM $srcFq WHERE c_custkey % 2 = 0").collect()
        val r = s.sql(s"CREATE TABLE graft_ops.cl_tgt SHALLOW CLONE " +
          s"$srcFq VERSION AS OF 1").collect()(0)
        val spec = graft.sinks.ObjectStoreSink.specFor(s, "graft_ops",
          "cl_tgt")
        val v1 = java.nio.file.Paths.get(
          graft.sinks.ObjectStoreSink.snapshots(spec).last.path)
        // zero-copy REQUIREs: no data files written, every entry a
        // resolvable reference, count matching the report
        require(graft.sinks.TableManifest.dataFiles(v1).isEmpty,
          "a shallow clone must write ZERO data files")
        val m = graft.sinks.TableManifest.read(v1).get
        require(m.files.nonEmpty && m.files.forall(e => e.ref.nonEmpty &&
          java.nio.file.Files.isRegularFile(
            graft.sinks.TableManifest.resolved(v1, e))),
          "every clone entry must be a resolvable reference")
        require(r.getInt(3) == m.files.size,
          s"files_referenced must match the manifest (report $r)")
        // independence: the clone's COW UPDATE must never touch the source
        s.sql("UPDATE graft_ops.cl_tgt SET bal = 0.0 " +
          "WHERE c_custkey % 10 = 0").collect()
        val srcEven = s.table(srcFq).where("c_custkey % 2 = 0").count()
        require(srcEven == 0L, "the source must keep its own v2 image")
        val srcZero = s.table(srcFq).where("bal = 0.0").count()
        val cloneRows = s.table("graft_ops.cl_tgt").count()
        require(srcZero == 0L || s.table(srcFq)
            .where("bal = 0.0 AND c_custkey % 10 <> 0").count() == srcZero,
          "the clone's UPDATE must not reach the source")
        require(cloneRows == s.sql(s"SELECT * FROM cl_seed").count(),
          "the v1-pinned clone must hold the FULL pre-delete image")
        s.sql("""SELECT c_custkey, c_name, bal FROM graft_ops.cl_tgt
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name,
             |  CASE WHEN c_custkey % 10 = 0 THEN 0.0 ELSE c_acctbal END
             |    AS bal
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ---- Change-feed streaming consumption equivalence --------------------
    // Following a versioned table commit-by-commit
    // (streaming/ChangeFeedStream): each poll applies exactly the change
    // rows of the commits it advances over — the manifest file diff, so
    // link-carried files never open — with the cursor carried
    // EXACTLY-ONCE in the replica's own commit stamps (no side
    // checkpoint to drift). Incremental consumption across interleaved
    // polls must reconstruct the source image precisely; the oracle
    // replays the final image relationally (the same discipline as
    // q_mv_stream_equiv / q_dedup_stream_equiv).
    QueryDef(
      "q_changes_stream_equiv",
      (s, d) => {
        val scratch = graft.Scratch.fresh("graft-chgstream")
        s.sql("DROP TABLE IF EXISTS graft_ops.cs_src")
        t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
          .createOrReplaceTempView("cs_seed")
        s.sql(
          s"""CREATE TABLE graft_ops.cs_src USING GRAFT
             |OPTIONS (path '$scratch') AS
             |SELECT * FROM cs_seed WHERE o_orderkey % 5 <> 0"""
            .stripMargin).collect()
        val fq = "graft_ops.cs_src"
        val src = graft.sinks.ObjectStoreSink.specFor(s, "graft_ops",
          "cs_src")
        val rep = src.copy(table = "cs_rep")
        // bootstrap poll: the v1 image arrives as inserts
        val r1 = graft.streaming.ChangeFeedStream.poll(s, src, rep, "cs")
        require(r1.fromVersion == 0 && r1.toVersion == 1 &&
          r1.deletes == 0L, s"bootstrap poll must feed v1 as inserts ($r1)")
        // two commits land before the next poll — one window, both steps
        s.sql(s"""INSERT INTO $fq
                 |SELECT * FROM cs_seed WHERE o_orderkey % 5 = 0"""
          .stripMargin).collect() // v2
        s.sql(s"DELETE FROM $fq WHERE o_orderkey % 7 = 0").collect() // v3
        val r2 = graft.streaming.ChangeFeedStream.poll(s, src, rep, "cs")
        require(r2.fromVersion == 1 && r2.toVersion == 3,
          s"the second poll must advance over BOTH pending commits ($r2)")
        s.sql(s"UPDATE $fq SET o_totalprice = 0.0 " +
          "WHERE o_orderkey % 11 = 0").collect() // v4
        val r3 = graft.streaming.ChangeFeedStream.poll(s, src, rep, "cs")
        require(r3.fromVersion == 3 && r3.toVersion == 4 &&
          r3.inserts == r3.deletes,
          s"a COW UPDATE must feed balanced delete+insert pairs ($r3)")
        // caught up: the replay poll is a verified no-op
        val r4 = graft.streaming.ChangeFeedStream.poll(s, src, rep, "cs")
        require(r4.fromVersion == 4 && r4.toVersion == 4 &&
          r4.inserts + r4.deletes == 0L,
          s"a caught-up poll must no-op ($r4)")
        // the replica must equal the source EXACTLY
        val srcImg = s.table(fq)
        val repImg = graft.sinks.ObjectStoreSink.readVersion(s, rep)
        require(repImg.exceptAll(srcImg).count() == 0L &&
          srcImg.exceptAll(repImg).count() == 0L,
          "incremental consumption must reconstruct the source image")
        repImg.orderBy("o_orderkey", "o_totalprice")
      },
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_orderkey % 11 = 0 THEN 0.0
             |       ELSE o_totalprice END AS o_totalprice
             |FROM orders WHERE o_orderkey % 7 <> 0
             |ORDER BY o_orderkey, o_totalprice""".stripMargin)),

    // ---- RESTORE: O(files) rollback to a prior snapshot -------------------
    // `RESTORE TABLE t [TO] VERSION AS OF n` commits the target
    // snapshot's files as a NEW version (carry commit — REQUIREd below:
    // all files linked by report AND on-disk inode identity, zero data
    // rewritten), data + schema restoring together while the
    // rolled-back-over history stays time-travel-readable. The oracle is
    // the original image — a restore after destructive DML must be
    // byte-equivalent to never having run it.
    QueryDef(
      "q_sql_restore",
      (s, d) => {
        val scratch = graft.Scratch.fresh("graft-sqlrestore")
        s.sql("DROP TABLE IF EXISTS graft_ops.rst_part")
        t(s, d, "part").select(col("p_partkey"), col("p_name"),
            col("p_retailprice")).createOrReplaceTempView("rst_src")
        s.sql(
          s"""CREATE TABLE graft_ops.rst_part USING GRAFT
             |OPTIONS (path '$scratch') AS
             |SELECT * FROM rst_src""".stripMargin).collect()
        val fq = "graft_ops.rst_part"
        val nFiles = s.sql(s"SHOW SNAPSHOTS $fq").collect().last.getInt(4)
        s.sql(s"DELETE FROM $fq WHERE p_partkey % 2 = 0").collect() // v2
        s.sql(s"UPDATE $fq SET p_retailprice = 0.0 " +
          "WHERE p_partkey % 3 = 0").collect() // v3
        val r = s.sql(s"RESTORE TABLE $fq TO VERSION AS OF 1")
          .collect()(0)
        require(r.getInt(0) == 1 && r.getInt(1) == 4 &&
          r.getInt(2) == nFiles,
          s"RESTORE must carry all $nFiles files of v1 (report: $r)")
        // the carry is real inodes — zero data rewritten
        val spec = graft.sinks.ObjectStoreSink.specFor(s, "graft_ops",
          "rst_part")
        val vs = graft.sinks.ObjectStoreSink.snapshots(spec)
        val v1 = java.nio.file.Paths.get(vs.find(_.version == 1).get.path)
        val v4 = java.nio.file.Paths.get(vs.last.path)
        val shared = graft.sinks.TableManifest.read(v1).get.files.count { e =>
          java.nio.file.Files.exists(v4.resolve(e.path)) &&
            java.nio.file.Files.isSameFile(
              v1.resolve(e.path), v4.resolve(e.path))
        }
        require(shared == nFiles,
          s"RESTORE shared $shared/$nFiles inodes — it rewrote data")
        // the bad history stays time-travel-readable until retention
        require(s.sql(s"SELECT count(*) AS c FROM $fq VERSION AS OF 2 " +
          "WHERE p_partkey % 2 = 0").head.getLong(0) == 0L,
          "v2 (the DELETE) must stay readable after the restore")
        s.sql(s"""SELECT p_partkey, p_name, p_retailprice
                 |FROM $fq ORDER BY p_partkey""".stripMargin)
      },
      Some("""SELECT p_partkey, p_name, p_retailprice
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---- SQL MERGE clause generality --------------------------------------
    // Full ANSI clause surface beyond the reference's generated
    // matched-update + not-matched-insert pair (IcebergUtil.scala:124-157):
    // conditional WHEN MATCHED … DELETE (first-true-wins order), the
    // unconditional UPDATE fallback, a conditional NOT MATCHED INSERT
    // with a NULL-filled column, and WHEN NOT MATCHED BY SOURCE … DELETE
    // reaching partner-free target rows. The oracle replays the whole
    // clause algebra relationally over a presence-marked FULL JOIN.
    QueryDef(
      "q_sql_merge_delete",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-sqlmrgdel"),
          database = "graft_ops", table = "smd_cust",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val cust = t(s, d, "customer")
        graft.sinks.ObjectStoreSink.replaceTable(s,
          cust.filter(col("c_nationkey") < 12)
            .select(col("c_custkey"), col("c_name"),
              col("c_acctbal").as("bal")), spec)
        cust.filter(col("c_nationkey") >= 8)
          .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("newbal"))
          .createOrReplaceTempView("smd_src")
        val r = s.sql(
          """MERGE INTO graft_ops.smd_cust t USING smd_src s
            |ON t.c_custkey = s.c_custkey
            |WHEN MATCHED AND s.newbal > 6000.0 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET bal = s.newbal
            |WHEN NOT MATCHED AND s.newbal <= 1000.0 THEN
            |  INSERT (c_custkey, bal) VALUES (s.c_custkey, s.newbal)
            |WHEN NOT MATCHED BY SOURCE AND t.bal < 0.0 THEN DELETE"""
            .stripMargin).collect()(0)
        require(r.getString(0) == "merge" && r.getLong(2) != r.getLong(1),
          s"clause MERGE was a no-op: $r")
        s.table("graft_ops.smd_cust").orderBy("c_custkey")
      },
      Some("""WITH t0 AS (SELECT c_custkey, c_name, c_acctbal AS bal
             |            FROM customer WHERE c_nationkey < 12),
             |s1 AS (SELECT c_custkey, c_acctbal + 100.0 AS newbal
             |       FROM customer WHERE c_nationkey >= 8),
             |j AS (SELECT t0.c_custkey AS tk, t0.c_name, t0.bal,
             |             s1.c_custkey AS sk, s1.newbal
             |      FROM t0 FULL JOIN s1 ON t0.c_custkey = s1.c_custkey)
             |SELECT COALESCE(tk, sk) AS c_custkey,
             |  CASE WHEN tk IS NOT NULL THEN c_name ELSE NULL END AS c_name,
             |  CASE WHEN tk IS NOT NULL AND sk IS NOT NULL THEN newbal
             |       WHEN tk IS NULL THEN newbal ELSE bal END AS bal
             |FROM j
             |WHERE NOT (tk IS NOT NULL AND sk IS NOT NULL AND newbal > 6000.0)
             |  AND NOT (tk IS NULL AND NOT (newbal <= 1000.0))
             |  AND NOT (sk IS NULL AND bal < 0.0)
             |ORDER BY c_custkey""".stripMargin)),

    // ---- SQL DML copy-on-write --------------------------------------------
    // The 100 TB property of the r14 DML surface (r13 verdict #1): a
    // SELECTIVE DELETE / UPDATE / MERGE costs O(touched files + batch),
    // never an O(table) rewrite. The fixture range-clusters orders into 4
    // files; each verb then touches ONE file's key window and the REQUIREs
    // pin (a) the commands' files_linked reports at 3, (b) REAL inode
    // sharing with the prior version on disk, and (c) the UPDATE's
    // matched-count (observed on the write scan — no second pass). An
    // evidence-free DELETE (pmod of the key) must degrade to the full
    // rewrite (0 links) and stay exact. The oracle replays the whole
    // verb sequence relationally.
    QueryDef(
      "q_sql_dml_cow",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-sqlcow"),
          database = "graft_ops", table = "cow_ord",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val seed = t(s, d, "orders").select(col("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("decimal(14,2)").as("amount"))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          seed.repartitionByRange(4, col("o_orderkey")), spec)
        val fq = "graft_ops.cow_ord"
        def inodesShared(): Int = {
          val spec2 = graft.sinks.ObjectStoreSink.specFor(s, "graft_ops", "cow_ord")
          val vs = graft.sinks.ObjectStoreSink.snapshots(spec2)
          val prev = java.nio.file.Paths.get(vs(vs.size - 2).path)
          val live = java.nio.file.Paths.get(vs.last.path)
          graft.sinks.TableManifest.read(prev).get.files.count { e =>
            val a = prev.resolve(e.path); val b = live.resolve(e.path)
            java.nio.file.Files.exists(b) &&
              java.nio.file.Files.isSameFile(a, b)
          }
        }
        // SF-robust thresholds from the key domain (the oracle recomputes
        // them with the same integer arithmetic)
        val mx = seed.agg(max("o_orderkey")).head.getLong(0)
        val k1 = mx / 8          // inside file 0's range window
        val k2 = mx - mx / 8     // inside file 3's range window
        // DELETE one file's worth: 3 links reported AND real on disk
        val r1 = s.sql(s"DELETE FROM $fq WHERE o_orderkey < $k1")
          .collect()(0)
        require(r1.getLong(1) > 0 && r1.getInt(3) == 3,
          s"selective DELETE did not link 3 of 4 files: $r1")
        require(inodesShared() == 3,
          "DELETE links not shared on disk — COW degenerated to a rewrite")
        // UPDATE the top window: 3 links, matched count observed exactly
        val expectUpd = s.table(fq).where(col("o_orderkey") >= k2).count()
        val r2 = s.sql(
          s"""UPDATE $fq SET amount = amount * 2
             |WHERE o_orderkey >= $k2""".stripMargin).collect()(0)
        require(r2.getLong(1) == expectUpd && r2.getInt(3) == 3,
          s"selective UPDATE wrong (expected $expectUpd matched, 3 links): $r2")
        require(inodesShared() == 3,
          "UPDATE links not shared on disk — COW degenerated to a rewrite")
        // MERGE touching only the top file: update the two largest keys,
        // insert one fresh key — 3 links again
        val top2 = s.table(fq).orderBy(col("o_orderkey").desc)
          .limit(2).select("o_orderkey").collect().map(_.getLong(0))
        import s.implicits._
        (top2.map(k => (k, BigDecimal("111.11"))) :+
          ((9000000001L, BigDecimal("222.22")))).toSeq
          .toDF("o_orderkey", "amount")
          .select(col("o_orderkey"), col("amount").cast("decimal(14,2)")
            .as("amount"))
          .createOrReplaceTempView("cow_msrc")
        val r3 = s.sql(
          s"""MERGE INTO $fq t USING cow_msrc s ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET amount = s.amount
             |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, amount)
             |  VALUES (s.o_orderkey, 'N', s.amount)""".stripMargin)
          .collect()(0)
        require(r3.getLong(2) == r3.getLong(1) + 1 && r3.getInt(4) == 3,
          s"selective MERGE wrong (expected +1 row, 3 links): $r3")
        // evidence-free predicate: full rewrite (0 links), still exact
        val r4 = s.sql(s"DELETE FROM $fq WHERE pmod(o_orderkey, 97) = 0")
          .collect()(0)
        require(r4.getLong(1) > 0 && r4.getInt(3) == 0,
          s"no-evidence DELETE must degrade to a full rewrite: $r4")
        s.sql(s"""SELECT o_orderkey, o_orderstatus,
                 |       CAST(amount AS DOUBLE) AS amount
                 |FROM $fq ORDER BY o_orderkey""".stripMargin)
      },
      Some("""WITH t0 AS (SELECT o_orderkey, o_orderstatus,
             |              CAST(o_totalprice AS DECIMAL(14,2)) AS amount
             |            FROM orders),
             |k AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 8.0) AS BIGINT) AS k1,
             |             MAX(o_orderkey)
             |               - CAST(FLOOR(MAX(o_orderkey) / 8.0) AS BIGINT) AS k2
             |      FROM t0),
             |t1 AS (SELECT t0.* FROM t0, k WHERE o_orderkey >= k.k1),
             |t2 AS (SELECT o_orderkey, o_orderstatus,
             |         CASE WHEN o_orderkey >= k.k2
             |              THEN CAST(amount * 2 AS DECIMAL(14,2))
             |              ELSE amount END AS amount
             |       FROM t1, k),
             |top2 AS (SELECT o_orderkey FROM t2 ORDER BY o_orderkey DESC
             |         LIMIT 2),
             |t3 AS (SELECT o_orderkey, o_orderstatus,
             |         CASE WHEN o_orderkey IN (SELECT o_orderkey FROM top2)
             |              THEN CAST(111.11 AS DECIMAL(14,2))
             |              ELSE amount END AS amount
             |       FROM t2
             |       UNION ALL
             |       SELECT CAST(9000000001 AS BIGINT), 'N',
             |              CAST(222.22 AS DECIMAL(14,2)))
             |SELECT o_orderkey, o_orderstatus, CAST(amount AS DOUBLE) AS amount
             |FROM t3
             |WHERE (o_orderkey % 97) <> 0
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- SQL DML copy-on-write, REFERENCE MODE (object stores) ------------
    // The same COW lifecycle as q_sql_dml_cow run under the reference-
    // carrying commit backend (CommitPublisher.carryByReference — the
    // object-store deployment shape, where hard links don't exist): the
    // untouched files must carry as MANIFEST REFERENCES into prior version
    // dirs with ZERO bytes copied — REQUIREd three ways: the commands'
    // files_linked reports, every carried entry holding a `ref` whose
    // LOGICAL path is physically ABSENT from the live dir (nothing was
    // linked or copied), and the referenced files resolving in their
    // owning dirs. Reads exercise every resolution path: the catalog SQL
    // read (RefResolveRule), the versioned read, and time travel. The
    // oracle replays the identical verb sequence relationally — and is
    // deliberately the SAME algebra as q_sql_dml_cow's: reference mode
    // must be invisible to results.
    QueryDef(
      "q_sql_dml_cow_ref",
      (s, d) => {
        val spec = graft.model.ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-sqlcowref"),
          database = "graft_ops", table = "cowref_ord",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val seed = t(s, d, "orders").select(col("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("decimal(14,2)").as("amount"))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          seed.repartitionByRange(4, col("o_orderkey")), spec)
        val fq = "graft_ops.cowref_ord"
        def liveRefs(): Seq[graft.sinks.TableManifest.FileEntry] = {
          val live = java.nio.file.Paths.get(
            graft.sinks.ObjectStoreSink.snapshots(spec).last.path)
          val m = graft.sinks.TableManifest.read(live).get
          m.files.filter(_.ref.nonEmpty).map { e =>
            require(!java.nio.file.Files.exists(live.resolve(e.path)),
              s"carried entry ${e.path} exists PHYSICALLY in the live " +
                "dir — reference mode copied or linked bytes")
            require(java.nio.file.Files.isRegularFile(
              graft.sinks.TableManifest.resolved(live, e)),
              s"reference ${e.ref} does not resolve")
            e
          }
        }
        val mx = seed.agg(max("o_orderkey")).head.getLong(0)
        val k1 = mx / 8
        val k2 = mx - mx / 8
        val prevPub = graft.sinks.TableManifest.publisher
        graft.sinks.TableManifest.publisher =
          graft.sinks.ReferenceCommitPublisher
        try {
          val r1 = s.sql(s"DELETE FROM $fq WHERE o_orderkey < $k1")
            .collect()(0)
          require(r1.getLong(1) > 0 && r1.getInt(3) == 3,
            s"reference DELETE did not carry 3 of 4 files: $r1")
          require(liveRefs().size == 3,
            "DELETE must carry 3 files as manifest references")
          val expectUpd = s.table(fq).where(col("o_orderkey") >= k2).count()
          val r2 = s.sql(
            s"""UPDATE $fq SET amount = amount * 2
               |WHERE o_orderkey >= $k2""".stripMargin).collect()(0)
          require(r2.getLong(1) == expectUpd && r2.getInt(3) == 3,
            s"reference UPDATE wrong (expected $expectUpd matched, 3 " +
              s"carried): $r2")
          require(liveRefs().size == 3,
            "UPDATE must carry 3 files as manifest references")
          val top2 = s.table(fq).orderBy(col("o_orderkey").desc)
            .limit(2).select("o_orderkey").collect().map(_.getLong(0))
          import s.implicits._
          (top2.map(k => (k, BigDecimal("111.11"))) :+
            ((9000000001L, BigDecimal("222.22")))).toSeq
            .toDF("o_orderkey", "amount")
            .select(col("o_orderkey"), col("amount").cast("decimal(14,2)")
              .as("amount"))
            .createOrReplaceTempView("cowref_msrc")
          val r3 = s.sql(
            s"""MERGE INTO $fq t USING cowref_msrc s
               |ON t.o_orderkey = s.o_orderkey
               |WHEN MATCHED THEN UPDATE SET amount = s.amount
               |WHEN NOT MATCHED THEN
               |  INSERT (o_orderkey, o_orderstatus, amount)
               |  VALUES (s.o_orderkey, 'N', s.amount)""".stripMargin)
            .collect()(0)
          require(r3.getLong(2) == r3.getLong(1) + 1 && r3.getInt(4) == 3,
            s"reference MERGE wrong (expected +1 row, 3 carried): $r3")
          // evidence-free predicate: still degrades to the full rewrite,
          // which drops every reference (the new version owns its image)
          val r4 = s.sql(s"DELETE FROM $fq WHERE pmod(o_orderkey, 97) = 0")
            .collect()(0)
          require(r4.getLong(1) > 0 && r4.getInt(3) == 0,
            s"no-evidence DELETE must degrade to a full rewrite: $r4")
          require(liveRefs().isEmpty,
            "a full rewrite must not carry references")
          // time travel resolves the REFERENCE-MODE snapshots exactly
          val preRows = s.sql(s"SELECT count(*) AS c FROM $fq VERSION AS OF 2")
            .head.getLong(0)
          require(preRows == r2.getLong(0),
            s"time travel into a reference-mode snapshot lost rows: $preRows")
          s.sql(s"""SELECT o_orderkey, o_orderstatus,
                   |       CAST(amount AS DOUBLE) AS amount
                   |FROM $fq ORDER BY o_orderkey""".stripMargin)
        } finally graft.sinks.TableManifest.publisher = prevPub
      },
      Some("""WITH t0 AS (SELECT o_orderkey, o_orderstatus,
             |              CAST(o_totalprice AS DECIMAL(14,2)) AS amount
             |            FROM orders),
             |k AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 8.0) AS BIGINT) AS k1,
             |             MAX(o_orderkey)
             |               - CAST(FLOOR(MAX(o_orderkey) / 8.0) AS BIGINT) AS k2
             |      FROM t0),
             |t1 AS (SELECT t0.* FROM t0, k WHERE o_orderkey >= k.k1),
             |t2 AS (SELECT o_orderkey, o_orderstatus,
             |         CASE WHEN o_orderkey >= k.k2
             |              THEN CAST(amount * 2 AS DECIMAL(14,2))
             |              ELSE amount END AS amount
             |       FROM t1, k),
             |top2 AS (SELECT o_orderkey FROM t2 ORDER BY o_orderkey DESC
             |         LIMIT 2),
             |t3 AS (SELECT o_orderkey, o_orderstatus,
             |         CASE WHEN o_orderkey IN (SELECT o_orderkey FROM top2)
             |              THEN CAST(111.11 AS DECIMAL(14,2))
             |              ELSE amount END AS amount
             |       FROM t2
             |       UNION ALL
             |       SELECT CAST(9000000001 AS BIGINT), 'N',
             |              CAST(222.22 AS DECIMAL(14,2)))
             |SELECT o_orderkey, o_orderstatus, CAST(amount AS DOUBLE) AS amount
             |FROM t3
             |WHERE (o_orderkey % 97) <> 0
             |ORDER BY o_orderkey""".stripMargin)))
}
