package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.model.ObjectStoreSpec
import graft.sinks.ObjectStoreSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Materialized-view query rewrite: a query subtree that provably computes
  * the same result as a registered MV's defining query is answered from
  * the maintained snapshot instead of the base tables — zero base-table
  * scan tasks for repeated analytics, the planner-seam twin of the
  * engine's incremental-aggregate maintenance
  * ([[graft.operators.IncrementalAgg]] keeps the snapshot current at
  * delta cost; this rule makes queries USE it without the user knowing
  * the snapshot exists). Warehouses the reference delegated to do exactly
  * this (Redshift auto-rewrite, BigQuery smart tuning); Spark itself only
  * matches `sameResult` against in-memory cache entries (CacheManager) —
  * this extends the same proof to durable, incrementally-maintained
  * snapshots.
  *
  * Soundness gates, all of which refuse (leave the plan untouched) rather
  * than guess:
  *   - RESULT IDENTITY: the subtree must `sameResult` the registered
  *     defining plan — Spark's canonicalized-plan equivalence, the exact
  *     proof CacheManager trusts for cached-data substitution. Both sides
  *     are OPTIMIZED plans, so cosmetic differences (aliases, projection
  *     order, exprIds) normalize away while semantic ones don't. One
  *     scoped CONTAINMENT extension: a deterministic Filter over bare
  *     GROUPING-KEY attributes that the optimizer pushed below the
  *     defining aggregate is peeled off, the residue matched by the same
  *     sameResult proof, and the predicate re-applied on the snapshot —
  *     key filters commute with grouping, so dashboards that slice their
  *     MV still answer snapshot-only.
  *   - FRESHNESS: registration pins every base table's committed version;
  *     the rule re-reads the lakes' current committed versions at plan
  *     time and refuses if ANY base moved — a stale snapshot is never
  *     substituted. A refresh re-arms the rewrite through
  *     [[refreshed]] (or the two-phase [[beginRefresh]] /
  *     [[completeRefresh]]): the watermark is captured BEFORE the refresh
  *     reads base data, so concurrent appends only ever make the pin
  *     conservative, never stale. [[register]] stays idempotent by name
  *     for manual re-arming.
  *   - SHAPE: the snapshot read must match the subtree's output
  *     positionally in arity and exact data types. Nullability the
  *     round-trip widened (parquet reads back nullable) is restored with
  *     an AssertNotNull runtime check — a corrupted snapshot fails
  *     loudly, never silently. The substitute is a Project aliasing
  *     snapshot columns onto the subtree's output exprIds, so parents
  *     re-resolve exactly.
  *
  * At 100 TB the economics are the point: the defining query scans the
  * lake; the rewritten query reads a snapshot thousands of times smaller,
  * kept current by delta maintenance — repeated dashboards cost O(answer)
  * instead of O(data).
  */
object MvRewriteRule extends Rule[LogicalPlan] {

  /** A registered MV: the defining-query THUNK (re-resolved to derive the
    * canonical match target after every refresh — a base commit repoints
    * the catalog at a new version dir, so the optimized plan must be
    * re-derived against the current resolution or `sameResult` can never
    * match again), the OPTIMIZED defining plan, a reader of the FINALIZED
    * snapshot content, and the base lakes pinned by BOTH committed
    * version and manifest file-set signature. The signature is what
    * catches in-place appends and dynamic partition overwrites, which
    * change a version's content WITHOUT bumping its number — data files
    * are immutable under the commit protocol, so an identical (path,
    * bytes, rows) set is an identical table.
    */
  final case class Registration(name: String, defining: () => DataFrame,
      view: LogicalPlan, read: () => DataFrame,
      bases: Seq[(ObjectStoreSpec, Int, String)])

  /** A captured freshness watermark — see [[beginRefresh]]. */
  type Pin = Seq[(ObjectStoreSpec, Int, String)]

  private val registry = new ConcurrentHashMap[String, Registration]()

  /** Re-entrancy guard: optimizing the defining/snapshot plans below must
    * not re-fire this rule.
    */
  private val inRule = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }

  /** Register (or re-register after a refresh — idempotent by name) an MV.
    * `defining` is a THUNK of the view's defining query over the base
    * tables (a thunk, not a plan, so [[completeRefresh]] can re-resolve it
    * against the catalog's current version dirs); `read` must produce the
    * FINALIZED snapshot content with the same columns, positionally;
    * `bases` are the versioned lakes the snapshot was refreshed against —
    * their CURRENT committed versions are pinned as the freshness
    * watermark, so call this only when the snapshot is in fact current.
    */
  def register(name: String, defining: () => DataFrame,
      read: () => DataFrame, bases: Seq[ObjectStoreSpec]): Unit = {
    val pinned = pinBases(name, bases)
    val view = withGuard(defining().queryExecution.optimizedPlan)
    registry.put(name, Registration(name, defining, view, read, pinned)): Unit
  }

  /** Materialized-plan convenience overload — refresh re-arming
    * ([[completeRefresh]]) will then keep refusing (a captured DataFrame
    * can't be re-resolved), so long-lived MVs should pass the thunk form.
    */
  def register(name: String, defining: DataFrame, read: () => DataFrame,
      bases: Seq[ObjectStoreSpec]): Unit =
    register(name, () => defining, read, bases)

  private def pinBases(name: String,
      bases: Seq[ObjectStoreSpec]): Pin =
    bases.map { s =>
      val snaps = ObjectStoreSink.snapshots(s)
      require(snaps.nonEmpty,
        s"MV '$name': base ${s.database}.${s.table} has no committed version")
      val last = snaps.last
      val sig = fileSetSig(last.path).getOrElse(throw new IllegalStateException(
        s"MV '$name': base ${s.database}.${s.table} version " +
          s"${last.version} has no readable manifest"))
      (s, last.version, sig)
    }

  /** Capture the registered bases' CURRENT committed versions as the
    * watermark an in-flight refresh will re-arm with. MUST be called
    * BEFORE the refresh body reads any base data — then a concurrent
    * append can only land AFTER the capture, the refreshed snapshot
    * reflects at-least the captured content, and a query-time base
    * version NEWER than the pin refuses (conservative, never stale).
    * Capturing after the read would invert that: the pin could claim a
    * version whose late-arriving files the snapshot never saw.
    */
  def beginRefresh(name: String): Pin = {
    val r = Option(registry.get(name)).getOrElse(throw new NoSuchElementException(
      s"MV '$name' is not registered"))
    pinBases(name, r.bases.map(_._1))
  }

  /** Re-arm the rewrite after a successful refresh: swap in the pin
    * captured by [[beginRefresh]] and re-derive the canonical defining
    * plan against the catalog's CURRENT resolution (the refresh commit
    * repointed version dirs, so the old optimized plan can never
    * `sameResult` a new query again). Call only after the refresh body
    * committed the snapshot successfully.
    */
  def completeRefresh(name: String, pin: Pin): Unit =
    Option(registry.get(name)).foreach { r =>
      val view = withGuard(r.defining().queryExecution.optimizedPlan)
      registry.put(name, r.copy(view = view, bases = pin)): Unit
    }

  /** Refresh-and-re-arm sugar: capture the watermark, run the caller's
    * refresh body (which must bring the snapshot up to date with
    * everything committed at capture time — reading the bases' live
    * state inside the body satisfies that), then re-arm. The rewrite
    * never lapses across refreshes and never fires stale: an append
    * landing mid-body leaves the query-time version ahead of the pin,
    * which refuses until the next refresh.
    */
  def refreshed[T](name: String)(body: => T): T = {
    val pin = beginRefresh(name)
    val out = body
    completeRefresh(name, pin)
    out
  }

  def deregister(name: String): Unit = registry.remove(name): Unit

  def registered: Seq[String] = registry.keySet().asScala.toSeq.sorted

  private[plans] def registration(name: String): Option[Registration] =
    Option(registry.get(name))

  private[plans] def isFresh(r: Registration): Boolean = fresh(r)

  private def withGuard[T](body: => T): T = {
    inRule.set(true)
    try body finally inRule.set(false)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty || inRule.get || conf.getConfString(
        "spark.graft.mvRewrite.enabled", "true") != "true") return plan
    plan.transformDown {
      case p =>
        registry.values.asScala
          .collectFirst(Function.unlift(r => substitute(p, r)))
          .getOrElse(p)
    }
  }

  private def substitute(p: LogicalPlan,
      r: Registration): Option[LogicalPlan] =
    try {
      direct(p, r).orElse(contained(p, r)).orElse(rollup(p, r))
    } catch { case _: Exception => None } // refusal, never a guess

  /** Whole-subtree identity: the query node IS the defining shape. */
  private def direct(p: LogicalPlan,
      r: Registration): Option[LogicalPlan] =
    if (!unpruned(p).sameResult(r.view) || !fresh(r)) None
    else snapshotProject(p.output, r)

  /** CONTAINMENT rewrite (r12 verdict #3): a group-key Filter that Spark
    * pushed BELOW the defining aggregate — `SELECT … GROUP BY k` queried
    * with `WHERE pred(k)` optimizes to `Aggregate(k, aggs, Filter(pred,
    * base))`, which can never `sameResult` the registered shape — is
    * peeled off, the residual aggregate is matched whole, and the
    * predicate is re-applied ON TOP of the snapshot read (rewritten onto
    * the aggregate's output attributes). Sound because a deterministic
    * predicate over grouping keys commutes with grouping: a group exists
    * and keeps exactly its member rows iff its key passes, on either
    * side of the aggregate (NULL and false both drop, both sides).
    * Gates: the filter references ONLY bare grouping-key attributes that
    * the aggregate outputs; anything else — a member-column filter (it
    * changes group contents), a subquery, nondeterminism — refuses.
    */
  private def contained(p: LogicalPlan,
      r: Registration): Option[LogicalPlan] = p match {
    case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
      for {
        (cond, stripped) <- stripFilter(agg.child)
        if cond.deterministic &&
          !cond.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])
        // every predicate reference must be a grouping key the aggregate
        // OUTPUTS (bare or aliased) — map it onto the output attribute
        outFor <- {
          val maps = cond.references.toSeq.map { ref =>
            val i = agg.aggregateExpressions.indexWhere {
              case a: org.apache.spark.sql.catalyst.expressions
                  .AttributeReference => a.exprId == ref.exprId
              case Alias(a: org.apache.spark.sql.catalyst.expressions
                  .AttributeReference, _) => a.exprId == ref.exprId
              case _ => false
            }
            val isKey = agg.groupingExpressions.exists(_.semanticEquals(ref))
            if (i >= 0 && isKey) Some(ref.exprId -> agg.output(i)) else None
          }
          if (maps.exists(_.isEmpty)) None else Some(maps.flatten.toMap)
        }
        noFilter = agg.copy(child = stripped)
        if unpruned(noFilter).sameResult(r.view) && fresh(r)
        proj <- snapshotProject(agg.output, r)
      } yield org.apache.spark.sql.catalyst.plans.logical.Filter(
        cond.transform {
          case a: org.apache.spark.sql.catalyst.expressions
              .AttributeReference if outFor.contains(a.exprId) =>
            outFor(a.exprId)
        }, proj)
    case _ => None
  }

  /** ROLLUP rewrite (scoped): a query that groups by a SUBSET of the MV's
    * grouping keys over the SAME base subtree re-aggregates the snapshot
    * instead of the lake — `GROUP BY flag` answers from a
    * `GROUP BY flag, status` MV by summing its partial counts/sums and
    * min/max-ing its extrema. Matching: the query aggregate's child must
    * `sameResult` the DEFINING aggregate's child (their outputs then
    * correspond positionally — canonical equality is order-preserving),
    * every query grouping key must be one of the MV's output group keys,
    * and every query aggregate must be derivable from an MV output:
    * COUNT(*)/COUNT(x) roll up as SUM of the stored count, SUM as SUM,
    * MIN as MIN, MAX as MAX (distinct/filtered aggregates never —
    * partials can't be combined). The re-aggregated output must match the
    * query's types EXACTLY (a decimal SUM-of-SUM widens precision and
    * refuses — sound, never a silent type drift). GROUPED rollups only:
    * a GLOBAL rollup over an empty snapshot would turn COUNT(*)'s 0 into
    * SUM's NULL, so it refuses wholesale rather than special-case.
    */
  private def rollup(p: LogicalPlan,
      r: Registration): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    (p, r.view) match {
      case (agg: Aggregate, view: Aggregate)
          if agg.groupingExpressions.nonEmpty &&
            agg.groupingExpressions.forall(_.isInstanceOf[AttributeReference]) => {
        // column pruning projects each side differently (the rollup needs
        // fewer columns than the MV) — attribute-only projections neither
        // change rows nor exprIds, so strip them before the identity proof
        def stripProjects(pl: LogicalPlan): LogicalPlan = pl match {
          case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
            stripProjects(c)
          case other => other
        }
        val baseV = stripProjects(unpruned(view.child))
        val baseQ = stripProjects(unpruned(agg.child))
        if (!baseV.sameResult(baseQ) || !fresh(r)) return None
        val vOut = baseV.output
        val qOut = baseQ.output
        if (vOut.size != qOut.size) return None
        // canonical base equality aligns outputs positionally; projections
        // above pass the same exprIds through
        val v2q = vOut.map(_.exprId).zip(qOut).toMap
        // MV snapshot projected onto the DEFINING aggregate's outputs
        val proj = snapshotProject(view.output, r).getOrElse(return None)
        val mvAttr = view.output // proj aliases onto these exprIds
        // view output j, provided its defining expr derives the asked one
        def findOut(f: NamedExpression => Boolean): Option[Attribute] =
          view.aggregateExpressions.zipWithIndex.collectFirst {
            case (e, j) if f(e) => mvAttr(j)
          }
        def isKeyOut(a: AttributeReference)(e: NamedExpression): Boolean =
          e match {
            case vk: AttributeReference =>
              v2q.get(vk.exprId).exists(_.exprId == a.exprId) &&
                view.groupingExpressions.exists(_.semanticEquals(vk))
            case Alias(vk: AttributeReference, _) =>
              v2q.get(vk.exprId).exists(_.exprId == a.exprId) &&
                view.groupingExpressions.exists(_.semanticEquals(vk))
            case _ => false
          }
        def plainAgg(e: NamedExpression): Option[AggregateFunction] = e match {
          case Alias(ae: AggregateExpression, _)
              if !ae.isDistinct && ae.filter.isEmpty => Some(ae.aggregateFunction)
          case _ => None
        }
        def matchesArg(vx: Expression, x: AttributeReference): Boolean =
          vx match {
            case va: AttributeReference =>
              v2q.get(va.exprId).exists(_.exprId == x.exprId)
            case _ => false
          }
        // re-aggregation for one query aggregate function over MV outputs
        def reAgg(f: AggregateFunction): Option[Expression] = f match {
          case Count(Seq(l: Literal)) if l.value != null =>
            findOut(plainAgg(_).exists {
              case Count(Seq(l2: Literal)) => l2.value != null
              case _ => false
            }).map(a => Sum(a).toAggregateExpression())
          case Count(Seq(x: AttributeReference)) =>
            findOut(plainAgg(_).exists {
              case Count(Seq(vx)) => matchesArg(vx, x)
              case _ => false
            }).map(a => Sum(a).toAggregateExpression())
          case Sum(x: AttributeReference, _) =>
            findOut(plainAgg(_).exists {
              case Sum(vx, _) => matchesArg(vx, x)
              case _ => false
            }).map(a => Sum(a).toAggregateExpression())
          case Min(x: AttributeReference) =>
            findOut(plainAgg(_).exists {
              case Min(vx) => matchesArg(vx, x)
              case _ => false
            }).map(a => Min(a).toAggregateExpression())
          case Max(x: AttributeReference) =>
            findOut(plainAgg(_).exists {
              case Max(vx) => matchesArg(vx, x)
              case _ => false
            }).map(a => Max(a).toAggregateExpression())
          case _ => None
        }
        val newKeys = agg.groupingExpressions.map {
          case a: AttributeReference => findOut(isKeyOut(a)).getOrElse(return None)
        }
        val newAggs: Seq[NamedExpression] =
          agg.aggregateExpressions.zip(agg.output).map {
            case (a: AttributeReference, tgt) =>
              val k = findOut(isKeyOut(a)).getOrElse(return None)
              Alias(k, tgt.name)(exprId = tgt.exprId)
            case (Alias(a: AttributeReference, _), tgt) =>
              val k = findOut(isKeyOut(a)).getOrElse(return None)
              Alias(k, tgt.name)(exprId = tgt.exprId)
            case (Alias(ae: AggregateExpression, _), tgt)
                if !ae.isDistinct && ae.filter.isEmpty =>
              val re = reAgg(ae.aggregateFunction).getOrElse(return None)
              if (re.dataType != tgt.dataType) return None // no type drift
              val body =
                if (re.nullable && !tgt.nullable)
                  org.apache.spark.sql.catalyst.expressions.objects
                    .AssertNotNull(re)
                else re
              Alias(body, tgt.name)(exprId = tgt.exprId)
            case _ => return None
          }
        Some(Aggregate(newKeys, newAggs, proj))
      }
      case _ => None
    }
  }

  /** The first Filter along the aggregate's projection chain, removed —
    * `(condition, child-without-that-Filter)`.
    */
  private def stripFilter(plan: LogicalPlan): Option[(
      org.apache.spark.sql.catalyst.expressions.Expression, LogicalPlan)] =
    plan match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        Some((f.condition, f.child))
      case pr: Project =>
        stripFilter(pr.child).map { case (c, ch) =>
          (c, pr.copy(child = ch)) }
      case _ => None
    }

  /** The query side may already carry a [[ZoneMapPrunedIndex]] (the
    * zone-map seam runs in the same optimizer batch); a pruned listing is
    * a VIEW of the same relation, so normalize it away for the identity
    * proof — the matched subtree is discarded on substitution anyway.
    */
  private def unpruned(plan: LogicalPlan): LogicalPlan = plan.transform {
    case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      l.relation match {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation
            if h.location.isInstanceOf[ZoneMapPrunedIndex] =>
          l.copy(relation = h.copy(location =
            h.location.asInstanceOf[ZoneMapPrunedIndex].base)(h.sparkSession))
        case _ => l
      }
  }

  /** The snapshot read projected onto `outputs` (arity + exact types
    * positionally), aliased onto the matched subtree's exprIds so parents
    * re-resolve exactly.
    */
  private def snapshotProject(
      outputs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      r: Registration): Option[LogicalPlan] = {
    val mv = withGuard(r.read().queryExecution.optimizedPlan)
    if (mv.output.size != outputs.size ||
      mv.output.zip(outputs).exists { case (s, t) =>
        s.dataType != t.dataType })
      None
    else Some(Project(outputs.zip(mv.output).map { case (tgt, src) =>
      // a snapshot round-trip widens nullability (parquet columns
      // read back nullable even for count(*) results); the values
      // cannot actually be null — AssertNotNull restores the
      // output contract with a RUNTIME check instead of a metadata
      // lie, so a corrupted snapshot fails loudly, never silently
      val e =
        if (src.nullable && !tgt.nullable)
          org.apache.spark.sql.catalyst.expressions.objects
            .AssertNotNull(src)
        else src
      Alias(e, tgt.name)(exprId = tgt.exprId) }, mv))
  }

  /** Every pinned base lake is still at the version AND exact file set
    * the snapshot was refreshed against — the signature catches in-place
    * appends and partition overwrites that keep the version number. Any
    * move, or any doubt (missing versions, unreadable manifests),
    * refuses.
    */
  private def fresh(r: Registration): Boolean =
    r.bases.forall { case (spec, v, sig) =>
      ObjectStoreSink.snapshots(spec).lastOption.exists(s =>
        s.version == v && fileSetSig(s.path).contains(sig))
    }

  /** Content identity of a committed version at file granularity: data
    * files are immutable, so the sorted (path, bytes, rows) set IS the
    * table content.
    */
  private def fileSetSig(versionPath: String): Option[String] =
    graft.sinks.TableManifest.read(java.nio.file.Paths.get(versionPath))
      .map(_.files.map(f => s"${f.path}:${f.bytes}:${f.rows}")
        .sorted.mkString("\n"))
}
