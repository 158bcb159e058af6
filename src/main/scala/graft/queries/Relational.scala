package graft.queries

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import QueryDef.{dsum, dsumSql}

/** Relational operator coverage (SURVEY.md §2.3–§2.6): projection, filter,
  * cast, distinct/dedup, aggregation, joins (incl. the reference's MERGE
  * upsert shapes J1–J3 re-expressed as Spark joins), windows, sort/limit,
  * and set operations.
  *
  * Scale notes (100 TB design stance):
  *   - only truly fixed-size dims (`nation`, `region`) carry an explicit
  *     `broadcast()` hint; tables that scale with the data (`customer`,
  *     `orders`) are left to AQE so no hint turns into a driver OOM at 100×;
  *   - aggregations are partial-agg friendly (plain groupBy on column
  *     expressions → Catalyst emits partial_sum/partial_count map-side);
  *   - every filter is a pushable predicate on a scan column.
  */
object Relational {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  val defs: Seq[QueryDef] = Seq(

    // ---- P1/P2/P8: projection + pushed filter -----------------------------
    QueryDef(
      "q_project_filter",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") < lit("1995-06-01").cast(TimestampType) &&
            col("l_discount") > 0.05)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem
             |WHERE l_shipdate < TIMESTAMP '1995-06-01' AND l_discount > 0.05
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- P3/F1: cast projection (apply destination schema) ----------------
    // floor() before int cast: Spark truncates double→int, DuckDB rounds —
    // floor on both sides pins the semantics.
    QueryDef(
      "q_cast_schema",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_orderkey") % 100 === 0)
          .select(
            col("l_orderkey"),
            col("l_linenumber").cast(LongType).as("linenum_long"),
            floor(col("l_quantity")).cast(LongType).as("qty_int"),
            col("l_shipdate").cast(DateType).as("ship_date"),
            col("l_returnflag").cast(StringType).as("flag_str"))
          .orderBy("l_orderkey", "linenum_long"),
      Some("""SELECT l_orderkey,
             |       CAST(l_linenumber AS BIGINT) AS linenum_long,
             |       CAST(FLOOR(l_quantity) AS BIGINT) AS qty_int,
             |       CAST(l_shipdate AS DATE) AS ship_date,
             |       CAST(l_returnflag AS VARCHAR) AS flag_str
             |FROM lineitem WHERE l_orderkey % 100 = 0
             |ORDER BY l_orderkey, linenum_long""".stripMargin)),

    // ---- A4 parity: TPC-H Q1-shaped aggregation ---------------------------
    QueryDef(
      "q1_agg",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("sum_disc_price"),
            count(lit(1)).as("count_order"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_extendedprice")).as("max_price"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${dsumSql("l_quantity")} AS sum_qty,
              |  ${dsumSql("l_extendedprice")} AS sum_base_price,
              |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
              |  COUNT(*) AS count_order,
              |  MIN(l_quantity) AS min_qty,
              |  MAX(l_extendedprice) AS max_price
              |FROM lineitem
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- A1-A3 parity: global aggregates + count distinct -----------------
    QueryDef(
      "q_agg_global",
      (s, d) =>
        t(s, d, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          dsum(col("l_tax")).as("sum_tax")),
      Some(s"""SELECT COUNT(*) AS n_rows,
              |  COUNT(DISTINCT l_partkey) AS n_parts,
              |  COUNT(DISTINCT l_suppkey) AS n_supps,
              |  MIN(l_extendedprice) AS min_price,
              |  MAX(l_extendedprice) AS max_price,
              |  ${dsumSql("l_tax")} AS sum_tax
              |FROM lineitem""".stripMargin)),

    // ---- joins: fact-to-dim star join, dims broadcast ---------------------
    QueryDef(
      "q_join_star",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        val n = t(s, d, "nation")
        // `customer` scales with the fact data — never hard-broadcast it;
        // AQE/autoBroadcastJoinThreshold decides at runtime. Only the truly
        // fixed dims (nation: 25 rows at any SF) get the hint.
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("n_name")
      },
      Some(s"""SELECT n_name,
              |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
              |  COUNT(*) AS n_items
              |FROM lineitem
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation   ON c_nationkey = n_nationkey
              |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ---- left semi join (EXISTS) ------------------------------------------
    QueryDef(
      "q_join_semi",
      (s, d) => {
        val o = t(s, d, "orders")
        val li = t(s, d, "lineitem")
          .filter(col("l_quantity") > 45)
          .select(col("l_orderkey"))
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- left anti join (NOT EXISTS) — K5/J3 delete-phase shape -----------
    QueryDef(
      "q_join_anti",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
          .filter(col("o_totalprice") > 300000.0)
          .select(col("o_custkey"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_acctbal")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal
             |FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_totalprice > 300000.0)
             |ORDER BY c_custkey""".stripMargin)),

    // ---- §2.6 distinct ------------------------------------------------------
    QueryDef(
      "q_distinct",
      (s, d) =>
        t(s, d, "lineitem")
          .select("l_returnflag", "l_linestatus")
          .distinct()
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- J1/J2 MERGE upsert re-expressed as full-outer join + resolve -----
    // target  = customers of nations 0..11 ; source = customers of nations
    // 8..24 with acctbal bumped. Matched → source wins; else carry over.
    // This is exactly graft.operators.MergeUpsert's plan shape.
    QueryDef(
      "q_merge_upsert",
      (s, d) => {
        val cust = t(s, d, "customer")
        val target = cust.filter(col("c_nationkey") < 12)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val source = cust.filter(col("c_nationkey") >= 8)
          .select(col("c_custkey"), col("c_name"),
            (col("c_acctbal") + 100.0).as("c_acctbal"))
        graft.operators.MergeUpsert(target, source, Seq("c_custkey"))
          .orderBy("c_custkey")
      },
      Some("""SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
             |       COALESCE(s.c_name, t.c_name)       AS c_name,
             |       COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal
             |FROM      (SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_nationkey < 12) t
             |FULL JOIN (SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
             |           FROM customer WHERE c_nationkey >= 8) s
             |  ON t.c_custkey = s.c_custkey
             |ORDER BY c_custkey""".stripMargin)),

    // ---- §2.6 window functions --------------------------------------------
    QueryDef(
      "q_window_rank",
      (s, d) => {
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        // customer scales with data — leave join strategy to AQE.
        o.join(c, o("o_custkey") === c("c_custkey"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("c_mktsegment", "rn", "o_orderkey", "o_totalprice")
          .orderBy("c_mktsegment", "rn")
      },
      Some("""SELECT c_mktsegment, rn, o_orderkey, o_totalprice FROM (
             |  SELECT c_mktsegment, o_orderkey, o_totalprice,
             |         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
             |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders JOIN customer ON o_custkey = c_custkey) x
             |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin)),

    // running sum over a totally-ordered frame (deterministic double adds)
    QueryDef(
      "q_window_running",
      (s, d) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "lineitem")
          .filter(col("l_suppkey") < 5)
          .withColumn("running_qty", sum(col("l_quantity")).over(w))
          .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
             |       SUM(l_quantity) OVER (PARTITION BY l_suppkey
             |         ORDER BY l_shipdate, l_orderkey, l_linenumber
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
             |FROM lineitem WHERE l_suppkey < 5
             |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)),

    // ---- §2.6 sort + limit (top-k) ----------------------------------------
    QueryDef(
      "q_topk",
      (s, d) =>
        t(s, d, "lineitem")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber"))
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          .limit(100),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
             |FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             |LIMIT 100""".stripMargin)),

    // ---- §2.6 set ops: union / intersect / except -------------------------
    QueryDef(
      "q_setops",
      (s, d) => {
        val c = t(s, d, "customer").select(col("c_nationkey").as("nk"))
        val su = t(s, d, "supplier").select(col("s_nationkey").as("nk"))
        val both = c.intersect(su).withColumn("tag", lit("both"))
        val custOnly = c.except(su).withColumn("tag", lit("cust_only"))
        both.unionByName(custOnly).orderBy("tag", "nk")
      },
      Some("""SELECT nk, tag FROM (
             |  SELECT nk, 'both' AS tag FROM
             |    (SELECT c_nationkey AS nk FROM customer
             |     INTERSECT SELECT s_nationkey FROM supplier)
             |  UNION ALL
             |  SELECT nk, 'cust_only' AS tag FROM
             |    (SELECT c_nationkey AS nk FROM customer
             |     EXCEPT SELECT s_nationkey FROM supplier)) x
             |ORDER BY tag, nk""".stripMargin)),

    // ---- skew toolkit: salted two-phase aggregation -----------------------
    // Same answer as a plain GROUP BY (the oracle computes it that way);
    // the plan spreads every group over 16 salt buckets first, so one hot
    // key (l_returnflag has 3 values over 600k rows — maximal skew) never
    // serializes on a single task.
    QueryDef(
      "q_salted_agg",
      (s, d) =>
        graft.operators.Skew.saltedAgg(
          t(s, d, "lineitem"), Seq("l_returnflag"), 16,
          partial = Seq(count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("sum_qty")),
          merge = Seq(sum(col("n")).as("n"),
            sum(col("sum_qty")).cast("double").as("sum_qty")))
          .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
              |  ${dsumSql("l_quantity")} AS sum_qty
              |FROM lineitem GROUP BY l_returnflag
              |ORDER BY l_returnflag""".stripMargin)),

    // ---- skew toolkit: hot-key split join ---------------------------------
    // Detected hot orderkeys route through a broadcast join; cold keys take
    // the normal shuffle join. Union equals the plain join (the oracle).
    QueryDef(
      "q_hot_split_join",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .filter(col("l_orderkey") % 7 === 0) // deterministic 1/7 slice
          .select(col("l_orderkey"), col("l_quantity"))
        val o = t(s, d, "orders")
          .filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
        // "hot" = orders with the most lineitems (threshold 6 → the
        // multi-line tail of the distribution); stays a DataFrame — the
        // split is semi/anti joins, nothing reaches the driver
        val hot = graft.operators.Skew.hotKeys(li, "l_orderkey", threshold = 6)
        graft.operators.Skew.hotSplitJoin(li, o, "l_orderkey", hot)
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
            max(col("o_totalprice")).as("price"))
          .orderBy("l_orderkey")
      },
      Some(s"""SELECT l_orderkey, COUNT(*) AS n,
              |  ${dsumSql("l_quantity")} AS sum_qty,
              |  MAX(o_totalprice) AS price
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |WHERE l_orderkey % 7 = 0
              |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),

    // ---- TPC-H Q3 shape: shipping-priority top-N --------------------------
    // The classic 3-way selective join + grouped revenue + top-10: segment
    // filter prunes customers before the join, both date predicates push to
    // the scans, revenue is the decimal-exact dsum, and the top-10 rides
    // (revenue desc, orderkey) for a unique order.
    QueryDef(
      "q_tpch_q3",
      (s, d) => {
        val cust = t(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val ord = t(s, d, "orders")
          .filter(col("o_orderdate") < lit("1998-01-01"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
            col("o_orderpriority"))
        val li = t(s, d, "lineitem")
          .filter(col("l_shipdate") > lit("1998-01-01"))
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("o_orderpriority"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey,
              |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
              |  o_orderpriority,
              |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |WHERE c_mktsegment = 'BUILDING'
              |  AND o_orderdate < TIMESTAMP '1998-01-01'
              |  AND l_shipdate > TIMESTAMP '1998-01-01'
              |GROUP BY 1, 2, 3
              |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // ---- TPC-H Q5 shape: local-supplier volume per nation -----------------
    // Five-way join with the customer-and-supplier-same-nation equality and
    // a region gate — the join-order stress test: the two dims broadcast,
    // the fact side shuffles once per surviving key, and the nation
    // equality collapses the supplier probe.
    QueryDef(
      "q_tpch_q5",
      (s, d) => {
        val asia = t(s, d, "region").filter(col("r_name") === "ASIA")
        val nat = t(s, d, "nation")
          .join(asia, col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val cust = t(s, d, "customer").select("c_custkey", "c_nationkey")
        val ord = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1997-01-01") &&
            col("o_orderdate") < lit("1999-01-01"))
          .select("o_orderkey", "o_custkey")
        val sup = t(s, d, "supplier").select("s_suppkey", "s_nationkey")
        val li = t(s, d, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
          .join(nat, col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some(s"""SELECT n_name,
              |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |              AND s_nationkey = c_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |  AND o_orderdate >= TIMESTAMP '1997-01-01'
              |  AND o_orderdate < TIMESTAMP '1999-01-01'
              |GROUP BY n_name
              |ORDER BY revenue DESC, n_name""".stripMargin)),

    // ---- TPC-H Q10 shape: returned-item revenue per customer --------------
    // The wide-output top-k join: fact filtered at the scan (returnflag +
    // order-date quarter window), customer and nation dims broadcast, one
    // shuffle to the customer grain, then a bounded top-20 — revenue via
    // the decimal-cast dsum pattern (raw double sums are partial-agg-order
    // nondeterministic vs the oracle).
    QueryDef(
      "q_tpch_q10",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        val ord = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1998-01-01") &&
            col("o_orderdate") < lit("1998-07-01"))
          .select(col("o_orderkey"), col("o_custkey"))
        val cust = t(s, d, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("c_nationkey"))
        val nat = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
        // nation is FIXED-size → broadcast by construction; customer GROWS
        // with the corpus → left to Catalyst/AQE (broadcast at bench SF,
        // shuffle join at scale — forcing a broadcast here would OOM a
        // 100 TB driver)
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, c_acctbal, n_name,
              |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |WHERE l_returnflag = 'R'
              |  AND o_orderdate >= TIMESTAMP '1998-01-01'
              |  AND o_orderdate < TIMESTAMP '1998-07-01'
              |GROUP BY 1, 2, 3, 4
              |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // ---- skew diagnostics: heaviest join keys -----------------------------
    // The report that DECIDES when the skew toolkit applies: top-N heaviest
    // keys of a join column with their frequencies. Rides the bounded
    // TopKByScore aggregate over the per-key counts — the heavy-hitter
    // scan is one partial-aggregated pass plus a k-row shuffle, never a
    // full sort (at 100 TB you run this continuously on ingest, not as an
    // offline sort job).
    QueryDef(
      "q_skew_report",
      (s, d) => {
        import graft.functions.TopKByScore.topk
        t(s, d, "lineitem")
          .groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
          .agg(topk(col("cnt").cast("double"), col("l_orderkey"), 10).as("top"))
          .select(posexplode(col("top")).as(Seq("pos", "t")))
          .select((col("pos") + 1).cast("int").as("rank"),
            col("t.id").as("l_orderkey"),
            col("t.score").cast("long").as("cnt"))
          .orderBy("rank")
      },
      Some("""SELECT CAST(row_number() OVER (ORDER BY cnt DESC, l_orderkey) AS INT)
             |         AS rank,
             |       l_orderkey, cnt
             |FROM (SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1) c
             |ORDER BY cnt DESC, l_orderkey LIMIT 10""".stripMargin)),

    // ---- range-partition boundary planner ---------------------------------
    // Boundary selection for range-partitioned sorts/layouts, the way
    // Spark's own RangePartitioner does it: exact order statistics over a
    // DETERMINISTIC sample (1-in-20 by key), boundary k = the sample value
    // at rank floor(k·n/8). The global row_number runs on the SAMPLE only
    // (bounded by construction — that is the whole point of sampling the
    // planner input); ties break on the unique key so both engines pick
    // the identical row.
    QueryDef(
      "q_range_boundaries",
      (s, d) => {
        val smp = t(s, d, "lineitem")
          .filter(col("l_orderkey") % 20 === 0)
          .select(col("l_extendedprice").as("price"),
            col("l_orderkey"), col("l_linenumber"))
        val n = smp.count()
        val w = org.apache.spark.sql.expressions.Window
          .orderBy("price", "l_orderkey", "l_linenumber")
        val ranked = smp.withColumn("rn", row_number().over(w))
        val ks = s.range(1, 8).select(col("id").cast("int").as("k"))
        ks.join(ranked,
            col("rn") === floor(col("k") * lit(n) / 8).cast("int"))
          .select(col("k"), col("price").as("boundary"))
          .orderBy("k")
      },
      Some("""WITH s AS (
             |  SELECT l_extendedprice AS price, l_orderkey, l_linenumber
             |  FROM lineitem WHERE l_orderkey % 20 = 0),
             |n AS (SELECT COUNT(*) AS c FROM s),
             |r AS (SELECT price,
             |        row_number() OVER (ORDER BY price, l_orderkey, l_linenumber)
             |          AS rn
             |      FROM s),
             |ks AS (SELECT CAST(UNNEST(range(1, 8)) AS INT) AS k)
             |SELECT k, price AS boundary
             |FROM ks CROSS JOIN n JOIN r ON rn = CAST(FLOOR(k * c / 8) AS INT)
             |ORDER BY k""".stripMargin)),

    // ---- §2.5 rollup (grouping-set aggregation surface) -------------------
    QueryDef(
      "q_rollup",
      (s, d) =>
        t(s, d, "orders")
          .rollup(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy(col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first),
      Some(s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
              |  ${dsumSql("o_totalprice")} AS sum_price
              |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
              |ORDER BY o_orderstatus ASC NULLS FIRST,
              |         o_orderpriority ASC NULLS FIRST""".stripMargin))
  )
}
