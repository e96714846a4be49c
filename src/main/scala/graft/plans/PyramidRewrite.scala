package graft.plans

import graft.sources.LevelStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Pyramid-rewrite rule — the relational form of the reference's
  * resolution-based pyramid access (mldataset/abc.py:136-149, tile.py:126):
  * a MEAN block aggregation over a `.levels` base table at exactly a
  * coarser level's resolution never needs the base data — level `k` IS the
  * cube at that resolution, materialized.
  *
  * Matches `Aggregate` plans whose child scans `<root>/L<j>` of a pyramid
  * written by [[LevelStore.writeLevels]] (identified by the `_levels.json`
  * sidecar), possibly through Projects and one Filter whose predicates
  * are level-invariant (time-only, or block-aligned coordinate bounds —
  * see [[filterSafe]]), where
  *
  *  - the grouping contains block indices `floor((x - x0?) / s)` and
  *    `floor((y - y0?) / s)` over the pyramid's x/y columns with the SAME
  *    scale `s` equal to level `j+k`'s resolution (k ≥ 1),
  *  - the block grid aligns with the pyramid grid (the level's min/max
  *    anchors are multiples of `s` away from the grouping origin — a
  *    misaligned grid would split pyramid cells across blocks),
  *  - every other grouping expression touches only the time column (the
  *    dimension levels preserve), and
  *  - every aggregate is a plain `avg` of a data variable (the pyramid's
  *    own aggregation; count/min/max over base rows would change meaning),
  *
  * and retargets ONLY the scan to `<root>/L<j+k>`: the Aggregate stays,
  * now averaging exactly one level-(j+k) cell per block — a 4^k scan
  * reduction with unchanged query shape (and a no-op fixed point, since
  * the retargeted scan's resolution yields k = 0). At 100 TB this is the
  * difference between reading the base cube and reading its 1/4^k
  * materialization, decided by the optimizer instead of the caller.
  *
  * Semantics note: on grids with missing cells the pyramid's progressive
  * 2×2 means weight sub-blocks equally (the reference's pyramid contract),
  * which is what reading L(j+k) returns; a caller that wants raw-cell
  * weighting must aggregate a non-pyramid table.
  */
class PyramidRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  private val LevelDir = "^(.*)/L(\\d+)$".r

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
  }

  /** Strip no-op wrappers (Alias from groupBy naming, Cast from explicit
    * `.cast` calls) down to the structural expression.
    */
  private def strip(e: Expression): Expression = e match {
    case a: Alias => strip(a.child)
    case c: Cast => strip(c.child)
    case other => other
  }

  private def litNum(e: Expression): Option[Double] = strip(e) match {
    case Literal(v: Number, _) => Some(v.doubleValue())
    case _ => None
  }

  /** `floor((attr - origin?) / scale)` → (column name, origin, scale). */
  private def blockIdx(e: Expression): Option[(String, Double, Double)] =
    strip(e) match {
      case f: Floor => strip(f.child) match {
        case d: Divide =>
          val scale = litNum(d.right)
          (strip(d.left), scale) match {
            case (a: AttributeReference, Some(s)) => Some((a.name, 0.0, s))
            case (sub: Subtract, Some(s)) =>
              (strip(sub.left), litNum(sub.right)) match {
                case (a: AttributeReference, Some(o)) => Some((a.name, o, s))
                case _ => None
              }
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }

  private def isMultiple(span: Double, s: Double): Boolean = {
    val r = span / s
    math.abs(r - math.round(r)) < 1e-9
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    // child is the pyramid scan behind up to `[Project]? [Filter]?
    // [Project]?` wrappers: the optimizer pulls grouping expressions into
    // a Project as `_groupingexpression#N` aliases
    // (PullOutGroupingExpressions), column pruning adds one below the
    // Filter, and a time/bbox subset — the single most common real query
    // shape (select_subset then aggregate) — leaves a Filter between them
    val unwrapped: Option[(Seq[LogicalPlan], LogicalRelation)] = {
      def walk(p: LogicalPlan, acc: Seq[LogicalPlan], seenFilter: Boolean,
               seenProjBelowFilter: Boolean): Option[(Seq[LogicalPlan], LogicalRelation)] =
        p match {
          case lr: LogicalRelation => Some((acc, lr))
          case pr @ Project(list, child) if list.forall(_.deterministic) &&
            !(seenFilter && seenProjBelowFilter) =>
            walk(child, acc :+ pr, seenFilter, seenProjBelowFilter = seenFilter)
          case f @ Filter(cond, child) if cond.deterministic && !seenFilter =>
            walk(child, acc :+ f, seenFilter = true, seenProjBelowFilter)
          case _ => None
        }
      walk(agg.child, Seq.empty, seenFilter = false, seenProjBelowFilter = false)
    }
    val wrappers = unwrapped.map(_._1).getOrElse(Seq.empty)
    val relation = unwrapped.map(_._2)
    val filterCond: Option[Expression] =
      wrappers.collectFirst { case f: Filter => f.condition }
    // substitution: resolve attribute references through every wrapper
    // Project's aliases so grouping/aggregate/filter expressions are
    // analyzed in terms of the RELATION's columns; iterated to a fixpoint
    // because an outer alias may reference an inner one
    val aliasMap: Map[ExprId, Expression] = wrappers.collect {
      case p: Project => p.projectList.collect {
        case a: Alias => a.exprId -> a.child
      }
    }.flatten.toMap
    def substitute(e: Expression): Expression = {
      var cur = e
      var changed = true
      var guard = 0
      while (changed && guard < 8) {
        val next = cur.transformUp {
          case a: AttributeReference if aliasMap.contains(a.exprId) =>
            aliasMap(a.exprId)
        }
        changed = !next.fastEquals(cur)
        cur = next
        guard += 1
      }
      cur
    }
    val rootAndLevel = relation.flatMap(_.relation match {
      case h: HadoopFsRelation if h.location.rootPaths.length == 1 =>
        h.location.rootPaths.head.toString match {
          case LevelDir(root, lvl) => Some((root, lvl.toInt))
          case _ => None
        }
      case _ => None
    })
    for {
      (root, j) <- rootAndLevel
      lr <- relation
      meta <- LevelStore.readMeta(root, session.sparkContext.hadoopConfiguration)
      if j < meta.levels.length - 1
      cur = meta.levels(j)
      ((x0, sx), (y0, sy)) <- classifyGrouping(
        agg.groupingExpressions.map(substitute), meta)
      if sx == sy && sx > cur.xRes
      if aggsRewriteSafe(agg, substitute, lr, meta)
      if filterCond.forall(filterSafe(_, substitute, meta, x0, sx, y0, sy))
      // target: the level whose resolution IS the block size
      tgt <- meta.levels.drop(j + 1).find(l =>
        math.abs(l.xRes - sx) < 1e-9 * math.max(1.0, sx) &&
          math.abs(l.yRes - sy) < 1e-9 * math.max(1.0, sy))
      // alignment: both grid anchors sit on block boundaries, so no
      // pyramid cell straddles two blocks
      if isMultiple(cur.xMin - x0, sx) && isMultiple(cur.yMin - y0, sy) &&
        isMultiple(cur.yMax - y0, sy)
      nr <- LevelStore.openLevel(session, root, tgt.level, Some(meta))
        .queryExecution.analyzed.collectFirst { case r: LogicalRelation => r }
      byName = nr.output.map(a => a.name -> a).toMap
      if lr.output.forall(o =>
        byName.get(o.name).exists(_.dataType == o.dataType))
    } yield {
      // expose the new scan under the OLD relation's attribute ids so
      // every reference above (Project aliases, Aggregate) keeps resolving
      val bridge = Project(lr.output.map { o =>
        Alias(byName(o.name), o.name)(exprId = o.exprId,
          qualifier = o.qualifier)
      }, nr)
      logInfo(s"pyramid rewrite: $root/L$j block-agg(s=$sx) -> " +
        s"L${tgt.level} scan")
      // re-stack the original wrappers (Projects + the vetted Filter)
      // over the bridged coarse scan — all their expressions still
      // resolve because the bridge reuses the old attribute ids
      agg.copy(child = wrappers.foldRight(bridge: LogicalPlan) {
        case (p: Project, c) => p.copy(child = c)
        case (f: Filter, c) => f.copy(child = c)
        case (_, c) => c
      })
    }
  }

  /** A Filter between the Aggregate and the pyramid scan is safe to keep
    * over the retargeted scan when every conjunct either
    *
    *  - touches only the time column (levels preserve the time dimension
    *    and its values exactly), or
    *  - is `IsNotNull` over a coordinate (pyramid coordinates are
    *    generated, never null — selects every row at every level; Spark
    *    infers these from any coordinate comparison), or
    *  - is a `<`/`<=`/`>`/`>=` comparison between a coordinate and a
    *    literal sitting ON a block boundary (a multiple of the block size
    *    from the grouping origin): cell centers sit at half-offsets at
    *    EVERY level, so no center ever equals a boundary and the same
    *    predicate selects exactly the blocks fully inside the bbox at
    *    both resolutions — no block is ever split by the bbox, so each
    *    surviving block's mean is unchanged by the retarget.
    *
    * Anything else — data-variable predicates (they reweight block
    * means), unaligned bbox edges (they split blocks), coordinate
    * equality (centers differ across levels) — bails: the rewrite simply
    * does not fire and the base scan stands.
    */
  private def filterSafe(cond: Expression,
                         substitute: Expression => Expression,
                         meta: LevelStore.PyramidMeta,
                         x0: Double, sx: Double,
                         y0: Double, sy: Double): Boolean = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    def coordName(e: Expression): Option[String] = strip(e) match {
      case a: AttributeReference
        if a.name == meta.xCol || a.name == meta.yCol => Some(a.name)
      case _ => None
    }
    def aligned(n: String, v: Double): Boolean =
      if (n == meta.xCol) isMultiple(v - x0, sx) else isMultiple(v - y0, sy)
    conjuncts(substitute(cond)).forall { c =>
      val timeOnly = c.references.nonEmpty &&
        c.references.forall(_.name == meta.timeCol)
      timeOnly || (c match {
        case IsNotNull(e) => coordName(e).isDefined
        case b: BinaryComparison if (b match {
          case _: GreaterThan | _: GreaterThanOrEqual |
               _: LessThan | _: LessThanOrEqual => true
          case _ => false
        }) =>
          (coordName(b.left), litNum(b.right),
            coordName(b.right), litNum(b.left)) match {
            case (Some(n), Some(v), _, _) => aligned(n, v)
            case (_, _, Some(n), Some(v)) => aligned(n, v)
            case _ => false
          }
        case _ => false
      })
    }
  }

  /** Grouping (already substituted down to relation columns) must carry
    * exactly one x and one y block index (returned as ((x0, sx),
    * (y0, sy))); every other grouping expression may touch only the time
    * column.
    */
  private def classifyGrouping(grouping: Seq[Expression],
                               meta: LevelStore.PyramidMeta)
      : Option[((Double, Double), (Double, Double))] = {
    val classified = grouping.map { g =>
      blockIdx(g) match {
        case Some((n, o, s)) if n == meta.xCol => scala.util.Left(("x", o, s))
        case Some((n, o, s)) if n == meta.yCol => scala.util.Left(("y", o, s))
        case _ => scala.util.Right(g)
      }
    }
    val xIdx = classified.collect { case scala.util.Left(("x", o, s)) => (o, s) }
    val yIdx = classified.collect { case scala.util.Left(("y", o, s)) => (o, s) }
    val rest = classified.collect { case scala.util.Right(g) => g }
    if (xIdx.length == 1 && yIdx.length == 1 &&
      rest.forall(_.references.forall(_.name == meta.timeCol)))
      Some((xIdx.head, yIdx.head))
    else None
  }

  /** Aggregates must be grouping echoes or an aggregate of a RELATION
    * data variable whose function MATCHES the aggregator the pyramid was
    * built with (`_levels.json` `agg`, absent = mean): min-of-mins is not
    * min-of-cells, so `min(v)` retargets only onto a min-built pyramid,
    * `avg(v)` only onto a mean-built one, and `sum(v)` only onto a
    * sum-built one — each of those composes progressively, so the level
    * j+k cell IS the aggregate of its level-j block (up to the pyramid's
    * documented missing-cell contract). `count(v)` never retargets: a
    * coarser level has fewer CELLS, not a recorded base-row count, and a
    * count-built pyramid cannot even compose progressively (level k+1
    * would count level-k cells) — LevelStore refuses to build one. An
    * aggregate over anything derived from x/y would NOT survive the
    * retarget (mean of coordinates over a sparse block ≠ the block
    * center), so the substituted child must bottom out at a non-dimension
    * relation column.
    */
  private def aggsRewriteSafe(agg: Aggregate,
                              substitute: Expression => Expression,
                              lr: LogicalRelation,
                              meta: LevelStore.PyramidMeta): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min, Sum}
    val dimCols = Set(meta.xCol, meta.yCol, meta.timeCol)
    val relIds = lr.output.map(_.exprId).toSet
    def matchingVar(child: Expression, need: String): Boolean =
      strip(substitute(child)) match {
        case a: AttributeReference =>
          relIds.contains(a.exprId) && !dimCols.contains(a.name) &&
            meta.agg.getOrElse(a.name, "mean") == need
        case _ => false
      }
    agg.aggregateExpressions.forall { ne =>
      val e = ne match { case a: Alias => a.child; case o => o }
      val isGroupEcho = agg.groupingExpressions.exists(_.semanticEquals(e)) ||
        (strip(e).isInstanceOf[AttributeReference] &&
          agg.groupingExpressions.exists(g =>
            strip(g).semanticEquals(strip(e))))
      isGroupEcho || (e match {
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case av: Average => matchingVar(av.child, "mean")
            case mn: Min => matchingVar(mn.child, "min")
            case mx: Max => matchingVar(mx.child, "max")
            case sm: Sum => matchingVar(sm.child, "sum")
            case _ => false
          }
        case _ => false
      })
    }
  }
}
