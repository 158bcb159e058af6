package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan-regression guards for the scale-critical physical-plan properties
  * the 100 TB stance depends on. These assert the PLAN, not the answer —
  * the oracle gate owns answers; this spec makes sure nobody quietly trades
  * a pushed filter or a broadcast for a working-but-unscalable shape.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // run so AQE finalizes its plan
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def planString(df: DataFrame): String = executed(df).toString

  test("q_project_filter: predicate AND projection reach the parquet scan") {
    val plan = planString(q("q_project_filter"))
    // filter pushdown: the scan itself carries the predicates
    plan should include ("PushedFilters: [")
    plan should include regex "PushedFilters: \\[.*(LessThan|GreaterThan)"
    // column pruning: the scan's schema has only needed columns, never the
    // full 16-column lineitem row
    val scanSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    scanSchema should include ("l_quantity")
    (scanSchema should not).include("l_comment")
    (scanSchema should not).include("l_tax")
  }

  test("q_join_star: fixed dim broadcasts; no cartesian products anywhere") {
    val plan = planString(q("q_join_star"))
    plan should include ("BroadcastHashJoin")
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("q1_agg: aggregation is partial (map-side combine) before the shuffle") {
    val plan = planString(q("q1_agg"))
    plan should include ("partial_")      // partial aggregate stage exists
    plan should include ("HashAggregate")
  }

  test("catalog partition pruning: only the filtered partition is scanned") {
    val lake = scratchDir("auditlake").getAbsolutePath
    val ss = spark
    import ss.implicits._
    graft.sinks.ObjectStoreSink.write(spark,
      Seq((1, "us", 1.0), (2, "eu", 2.0), (3, "ap", 3.0)).toDF("id", "region", "v"),
      graft.model.ObjectStoreSpec(path = lake, database = "graft_audit",
        table = "pp", partitionBy = Seq("region")))
    val pruned = spark.table("graft_audit.pp").filter($"region" === "eu")
    pruned.count() shouldBe 1
    val files = pruned.inputFiles
    files should not be empty
    all(files) should include ("region=eu")
  }

  test("whole-stage codegen covers the hot paths (no interpreted islands)") {
    // sketch kernels are custom codegen expressions — they must fuse into
    // WholeStageCodegen, not fall back to interpreted evaluation
    val df = q("q_minhash_sig")
    df.collect()
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // codegen'd operators are starred in the formatted tree; the kernel's
    // Project and the surrounding Sort must be inside codegen stages
    formatted should include regex "\\* (Sort|Project)"
  }

  test("no operator query collects unboundedly: flagship plans are collect-free") {
    // spot the two plans the verdicts flagged historically
    val hot = planString(q("q_hot_split_join"))
    (hot should not).include("INSET")
    val knn = planString(q("q_knn_brute"))
    (knn should not).include("CartesianProduct")
  }

  /** Every oracled query's Spark column names must match its SQL exactly —
    * the driver hash sorts by column name, so a drift here fails the gate
    * late and confusingly. Checked early and loudly instead.
    */
  test("query/oracle column names stay aligned on a fast sample") {
    val sample = Seq("q1_agg", "q_topk", "q_salted_agg", "q_token_freq")
    sample.foreach { name =>
      val sparkCols = SparkEntry.queries(name)(spark, sf).columns.toSeq
      withClue(s"$name: ") { sparkCols.distinct.size shouldBe sparkCols.size }
    }
  }

  test("q_domain_quota: bounded aggregate, not a corpus-wide window sort") {
    val plan = planString(q("q_domain_quota"))
    plan should include ("ObjectHashAggregate")   // TypedImperativeAggregate
    plan should include ("partial_")              // map-side bounded partials
    (plan should not).include("Window")           // no row_number over the corpus
  }

  test("q_kmv_distinct: sketch aggregates map-side; no global sort+limit") {
    val plan = planString(q("q_kmv_distinct"))
    plan should include ("ObjectHashAggregate")
    plan should include ("partial_")
    (plan should not).include("GlobalLimit")      // the k-smallest never sort-limits
  }

  test("q_split_assign: pure narrow map — no join, no aggregate exchange") {
    val plan = planString(q("q_split_assign"))
    (plan should not).include("Join")
    (plan should not).include("HashAggregate")
  }

  test("q_decontaminate: eval gram set broadcasts; corpus probe never SMJs") {
    val plan = planString(q("q_decontaminate"))
    plan should include ("BroadcastHashJoin")
    (plan should not).include("CartesianProduct")
  }

  test("q_tpch_q3: both date predicates and the segment filter reach the scans") {
    val plan = planString(q("q_tpch_q3"))
    plan should include regex "PushedFilters: \\[.*GreaterThan\\(l_shipdate"
    plan should include regex "PushedFilters: \\[.*LessThan\\(o_orderdate"
    plan should include regex "PushedFilters: \\[.*EqualTo\\(c_mktsegment,BUILDING"
    (plan should not).include("CartesianProduct")
  }

  test("q_tpch_q5: five-way join plans with no cartesian or nested loop") {
    val plan = planString(q("q_tpch_q5"))
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
    plan should include ("HashJoin") // every join keyed
  }

  /** Collect nodes across AQE query-stage boundaries (plan.collect stops at
    * QueryStageExec, which hides most of the final tree).
    */
  private def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val out = Seq.newBuilder[T]
    def go(n: SparkPlan): Unit = {
      if (pf.isDefinedAt(n)) out += pf(n)
      n match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => go(q.plan)
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case _ =>
      }
      n.children.foreach(go)
    }
    go(p)
    out.result()
  }

  test("q_lsh_pairs: hot-bucket blacklist is a broadcast anti-join; no Window over the band table") {
    val df = q("q_lsh_pairs")
    // the STATIC plan carries the stance: the blacklist side builds a
    // broadcast and anti-joins without shuffling the band table. (At this
    // SF no bucket exceeds the cap, so AQE's empty-relation propagation
    // removes the anti-join from the FINAL plan entirely — also correct.)
    val static = df.queryExecution.sparkPlan.toString
    static should include regex "BroadcastHashJoin.*LeftAnti"
    // the window-sort formulation this replaced (COUNT OVER the full band
    // table before the self-join) must never come back, in either plan
    (static should not).include("Window")
    val fin = planString(df)
    (fin should not).include("Window")
    (fin should not).include("CartesianProduct")
  }

  test("q_fuzzy_neighbors: pairs come from a partition-local window, " +
    "never a self-join; hot-block blacklist broadcasts") {
    val df = q("q_fuzzy_neighbors")
    // the blacklist anti-join must broadcast its tiny side (same stance as
    // q_lsh_pairs; at this SF no block exceeds the cap, so AQE may also
    // erase it from the final plan via empty-relation propagation)
    val static = df.queryExecution.sparkPlan.toString
    static should include regex "BroadcastHashJoin.*LeftAnti"
    // sorted-neighborhood's whole point: candidate pairs are generated by
    // bounded lead() windows over (source, block) partitions — a self-join
    // on the block key (the rn-range join the oracle uses) must never
    // appear in the Spark plan, and nothing may go quadratic
    val fin = planString(df)
    fin should include ("Window")
    (fin should not).include("SortMergeJoin")
    (fin should not).include("CartesianProduct")
    (fin should not).include("BroadcastNestedLoopJoin")
  }

  test("q_containment_pairs: shingle stage materializes once; branches read the cache") {
    val df = q("q_containment_pairs")
    df.collect()
    val plan = executed(df)
    val fileScans = collectAll(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val cacheReads = collectAll(plan) {
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c }
    // six consumers (counts, both jaccard join sides, cand's signature
    // stage, both containment directions) — but the corpus parquet is
    // scanned ONCE in the final tree (the signature kernel; the staged
    // shingle cache is built off-tree). Per-branch re-explosion would put
    // 4+ parquet scans back here.
    withClue(s"parquet scans: ${fileScans.map(_.nodeName)}") {
      fileScans.size should be <= 2
    }
    // the staged shingle/hash tables actually serve the branches
    cacheReads.size should be >= 4
  }

  test("q_knn_brute: queries broadcast, corpus never shuffles; top-k aggregates map-side") {
    val df = q("q_knn_brute")
    df.collect()
    val plan = executed(df).toString
    // the scoring join is corpus ⋈ broadcast(queries) — the corpus side
    // reaches the join straight from its scan, no Exchange
    plan should include ("BroadcastNestedLoopJoin")
    (plan should not).include("SortMergeJoin")
    // ranking is the bounded TopKByScore aggregate with map-side partials
    // (shuffle = k·queries), never a row_number window over corpus×queries
    plan should include ("ObjectHashAggregate")
    plan should include ("partial_")
    (plan should not).include("Window")
  }

  test("q_knn_ivf: probed-bucket join, no cartesian, bounded top-k, no Window") {
    val df = q("q_knn_ivf")
    df.collect()
    val plan = executed(df).toString
    (plan should not).include("CartesianProduct")
    plan should include ("ObjectHashAggregate")
    (plan should not).include("Window")
  }

  test("q_embed_neardup: bucketed self-join only — no cartesian, no window") {
    val df = q("q_embed_neardup")
    df.collect()
    val plan = executed(df).toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin") // blocked, not all-pairs
    (plan should not).include("Window")
  }

  test("q_decontaminate_bloom: bloom prune is a literal probe; verify broadcasts") {
    val df = q("q_decontaminate_bloom")
    df.collect()
    val plan = executed(df).toString
    // the prune is a codegen'd might_contain over a LITERAL filter — a
    // map-side Filter on the gram scan, no join/exchange for phase 1
    plan should include ("might_contain")
    // the exact verify joins only survivors, broadcast — never an SMJ of
    // the corpus gram table against the eval set
    plan should include ("BroadcastHashJoin")
    (plan should not).include("SortMergeJoin")
    (plan should not).include("CartesianProduct")
  }

  test("q_dup_spans: spans reduce to (gh, doc) grain before joins; partial aggs; no cartesian") {
    val plan = planString(q("q_dup_spans"))
    // every aggregation combines map-side before its shuffle
    plan should include ("partial_")
    // the cross-doc test and dup-spans rollup are aggregations + equi-joins
    // over the REDUCED grain — never a cartesian/nested-loop over spans
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
    // per-doc totals come from token counts at the scan — no Window anywhere
    (plan should not).include("Window")
  }

  test("q_tfidf_topk: top-k runs as WindowGroupLimit, partial before the doc shuffle") {
    val plan = planString(q("q_tfidf_topk"))
    // Spark's rank-limit pushdown: bounded top-k per doc on BOTH sides of
    // the shuffle — never a full ranked materialization
    plan should include ("WindowGroupLimit")
    plan should include regex "WindowGroupLimit.*Partial"
    plan should include ("partial_")
    (plan should not).include("CartesianProduct")
  }

  test("q_bm25_topk: top-k runs as WindowGroupLimit, corpus stats broadcast") {
    val plan = planString(q("q_bm25_topk"))
    // same rank-limit pushdown as tfidf: bounded top-3 per doc both sides
    // of the shuffle; the 1-row corpus-stats aggregate joins as a
    // broadcast, never a shuffled cross
    plan should include ("WindowGroupLimit")
    plan should include regex "WindowGroupLimit.*Partial"
    plan should include ("Broadcast")
    (plan should not).include("CartesianProduct")
  }

  test("q_reservoir_per_group: rank<=k runs as WindowGroupLimit both sides of the shuffle") {
    val plan = planString(q("q_reservoir_per_group"))
    plan should include ("WindowGroupLimit")
    plan should include regex "WindowGroupLimit.*Partial"
    (plan should not).include("CartesianProduct")
  }

  test("q_tpch_q4: EXISTS decorrelates to one LeftSemi probe; dates pushed") {
    val plan = planString(q("q_tpch_q4"))
    // RewritePredicateSubquery: the correlated EXISTS (equality + shipdate
    // inequality) becomes a single semi join — not a per-outer-row rescan
    plan should include ("LeftSemi")
    plan should include regex "PushedFilters: \\[.*GreaterThanOrEqual\\(o_orderdate"
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("q_tpch_q17: correlated scalar aggregates decorrelate to aggregate-joins") {
    val plan = planString(q("q_tpch_q17"))
    // RewriteCorrelatedScalarSubquery: both per-part scalars (COUNT, SUM)
    // become partkey-grain aggregates joined back — the executed plan has
    // NO subquery nodes left and never nested-loops the probe
    (plan should not).include("Subquery")
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
    plan should include regex "PushedFilters: \\[.*EqualTo\\(p_brand,Brand#23"
    plan should include ("partial_")
  }

  test("q_tpch_q18: IN-over-HAVING decorrelates to LeftSemi on the aggregated fact") {
    val plan = planString(q("q_tpch_q18"))
    plan should include ("LeftSemi")
    plan should include ("partial_")
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("q_tpch_q22: NOT EXISTS plans as LeftAnti with the order filters pushed") {
    val p = executed(q("q_tpch_q22"))
    val plan = p.toString
    plan should include ("LeftAnti")
    // the NOT EXISTS's non-correlated conjuncts reach the orders scan — the
    // scan hides inside a broadcast query stage, so read the node metadata
    // rather than the (truncated) plan string
    val pushed = collectAll(p) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }
    pushed.exists(f => f.contains("EqualTo(o_orderpriority,1-URGENT") &&
      f.contains("GreaterThanOrEqual(o_orderdate")) shouldBe true
    (plan should not).include("CartesianProduct")
  }

  test("q_grouping_sets: one Expand feeds one partial aggregate — not a job per grain") {
    val p = executed(q("q_grouping_sets"))
    val expands = collectAll(p) {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }
    expands should have size 1
    val plan = p.toString
    plan should include ("partial_")
    (plan should not).include("CartesianProduct")
  }

  test("q_pivot_priority: explicit pivot values — no extra distinct-discovery pass") {
    val p = executed(q("q_pivot_priority"))
    // one scan of each input; a value-discovery pass would scan orders twice
    val scans = collectAll(p) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    scans should have size 2
    // pivot compiles to two aggregate phases ((segment, priority) grain,
    // then PivotFirst to wide) — 2 partial/final pairs, nothing more
    val aggs = collectAll(p) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    aggs.size should be <= 4
    (p.toString should not).include("CartesianProduct")
  }

  test("q_tpch_q6: joinless — every predicate reaches the scan, one partial agg") {
    val p = executed(q("q_tpch_q6"))
    val plan = p.toString
    (plan should not).include("Join")
    plan should include ("partial_")
    val pushed = collectAll(p) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }
    pushed.exists(f => f.contains("GreaterThanOrEqual(l_shipdate") &&
      f.contains("LessThan(l_quantity")) shouldBe true
  }

  test("q_tpch_q7/q8/q9: deep multi-joins never cartesian or nested-loop") {
    for (name <- Seq("q_tpch_q7", "q_tpch_q8", "q_tpch_q9")) {
      val plan = planString(q(name))
      withClue(s"$name:") {
        (plan should not).include("CartesianProduct")
        (plan should not).include("BroadcastNestedLoopJoin")
        plan should include ("partial_")
      }
    }
  }

  test("q_tpch_q9: the ps CTE's LIKE filter reaches the part scan") {
    val p = executed(q("q_tpch_q9"))
    val pushed = collectAll(p) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }
    pushed.exists(_.contains("StringContains(p_name,gear")) shouldBe true
  }

  test("q_tpch_q11: uncorrelated HAVING scalar runs once, agg stays partial") {
    val plan = planString(q("q_tpch_q11"))
    plan should include ("partial_")
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("q_tpch_q15: scalar MAX over the CTE is a one-row reuse, not a rescan loop") {
    val plan = planString(q("q_tpch_q15"))
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
    plan should include ("partial_")
  }

  test("q_tpch_q16: NOT IN plans as a null-aware broadcast anti join — no BNLJ") {
    val df = q("q_tpch_q16")
    df.collect()
    // read the full adaptive dump (Initial + Final): at this SF no supplier
    // has a negative balance, so AQE's empty-relation propagation deletes
    // the anti join from the FINAL plan entirely — the static plan is where
    // the null-aware broadcast anti (BuildRight, true) is visible
    val plan = df.queryExecution.executedPlan.toString
    plan should include regex "BroadcastHashJoin .*LeftAnti, BuildRight, true"
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("q_tpch_q19: OR-of-bands extracts the common partkey equi-join") {
    val plan = planString(q("q_tpch_q19"))
    // Catalyst factors l_partkey = p_partkey out of the disjunction: a hash
    // join with the band residual, never a cartesian-with-filter
    plan should include regex "(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)"
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("q_tpch_q21: EXISTS + NOT EXISTS decorrelate to semi + anti probes") {
    val plan = planString(q("q_tpch_q21"))
    plan should include ("LeftSemi")
    plan should include ("LeftAnti")
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("q_tpch_q2: correlated MIN decorrelates — no subquery nodes survive") {
    val p = executed(q("q_tpch_q2"))
    val plan = p.toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
    // the per-part MIN becomes a partkey-grain aggregate joined back
    plan should include ("partial_min")
  }

  test("q_attribution: interval condition rides the bucketized equi-join — no nested loop") {
    val df = q("q_attribution")
    df.collect()
    val plan = executed(df).toString
    // a raw p.sec BETWEEN ... range condition would plan as
    // BroadcastNestedLoopJoin / CartesianProduct; RangeJoin's bucketization
    // must turn it into a hash-or-merge equi-join on (user, bucket)
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
    // per-purchase aggregation combines map-side before its shuffle
    plan should include ("partial_count")
  }

  test("q_semdedup_prune: centroids broadcast; cluster self-join is an equi-join") {
    val df = q("q_semdedup_prune")
    df.collect()
    val plan = executed(df).toString
    // assignment = corpus × broadcast(K centroids): the ONLY nested-loop
    // joins allowed are against the bounded broadcast centroid table
    (plan should not).include("CartesianProduct")
    // the pairwise pass joins on cid (equi) — never all-pairs across
    // clusters; the kept/dropped flag is a hash join on vec_id
    plan should include ("ObjectHashAggregate") // bounded top-1 assignment
    plan should include ("partial_")
  }

  test("q_quality_classifier: one explode + one map-side-combined groupBy, no join/window") {
    val df = q("q_quality_classifier")
    df.collect()
    val plan = executed(df).toString
    (plan should not).include("Join")
    (plan should not).include("Window")
    plan should include ("partial_count")
    plan should include ("partial_sum")
  }

  test("IncrementalAgg.merge: the null-safe key join still plans as an " +
    "equi-shuffle (never a nested loop), states aggregate map-side") {
    val ss = spark
    import ss.implicits._
    import graft.operators.IncrementalAgg
    // the <=> key condition must reach ExtractEquiJoinKeys: EqualNullSafe
    // is an equi-key, so the merge is ONE hash/sort-merge shuffle at the
    // group grain — if a refactor demoted it to BroadcastNestedLoopJoin
    // the whole delta-cost refresh claim dies at scale
    val spec = IncrementalAgg.Spec(keys = Seq("k"), sumCols = Seq("v"),
      kmvCols = Seq(IncrementalAgg.KmvCol("h", 8)))
    val rows = Seq(("a", 1.0, 5L), ("b", 2.0, 3L), ("a", 0.5, 9L))
      .toDF("k", "v", "h")
    val merged = IncrementalAgg.advance(
      IncrementalAgg.aggregate(rows, spec), rows, spec)
    val plan = planString(merged)
    (plan should not).include("BroadcastNestedLoopJoin")
    (plan should not).include("CartesianProduct")
    plan should include regex "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
    plan should include ("partial_") // sketch + sum states combine map-side
  }

  test("TableDiff.diff: the null-safe key join still plans as an " +
    "equi-join (never a nested loop), report aggregates map-side") {
    val ss = spark
    import ss.implicits._
    import graft.operators.TableDiff
    // same guard as IncrementalAgg.merge above: the <=> key condition must
    // reach ExtractEquiJoinKeys (EqualNullSafe IS an equi-key), so the diff
    // is ONE full-outer equi-shuffle at the key grain. A refactor that
    // breaks the condition out of equi-key form (e.g. wrapping it in a
    // coalesce or OR) silently demotes the audit trio to a
    // BroadcastNestedLoopJoin crossing two FULL table versions — the worst
    // scale regression this repo could take at 100 TB.
    val oldDf = Seq((1, "a", 1.0), (2, "b", 2.0), (3, null: String, 3.0))
      .toDF("id", "k2", "v")
    val newDf = Seq((1, "a", 1.5), (3, null: String, 3.0), (4, "d", 4.0))
      .toDF("id", "k2", "v")
    val report = TableDiff.diff(oldDf, newDf, keys = Seq("id", "k2"))
    val plan = planString(report)
    (plan should not).include("BroadcastNestedLoopJoin")
    (plan should not).include("CartesianProduct")
    plan should include regex "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
    plan should include ("partial_sum") // one-row report combines map-side
  }

  test("q_opfuzz_01/02 (as-of fuzz draws): one window pass, no join operator at all") {
    for (name <- Seq("q_opfuzz_01", "q_opfuzz_02")) {
      val plan = planString(q(name))
      withClue(s"$name:\n") {
        plan should include ("Window")
        (plan should not).include("SortMergeJoin")
        (plan should not).include("BroadcastNestedLoopJoin")
        (plan should not).include("CartesianProduct")
      }
    }
  }
}
