package graft.sources.zarr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.{GeneralScalarExpression, NamedReference, Cast => VCast, Expression => VExpr}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

/** PARTIAL aggregate pushdown over data variables — the companion to
  * [[ZarrAggScan]]'s metadata-only complete pushdown. When a query
  * aggregates actual cell values (`min(v)`, `sum(v)`, grouped by dims),
  * the chunks must be read — but nothing obliges the scan to stream every
  * cell through the whole-stage pipeline just to fold it into a handful
  * of partial states. This scan computes the per-chunk partial aggregate
  * INSIDE the partition reader (one pass over the decoded chunk, group
  * states bounded by the chunk's own cell count) and emits one row per
  * (chunk, group); Spark's final aggregation merges them. At 100 TB the
  * exchange above the scan carries O(chunks × groups) rows instead of
  * O(cells) — for a global `avg(v)` over a 10^7-chunk archive that is
  * 10^7 partial rows versus 10^13 cells, with chunk pruning from pushed
  * dimension predicates still applied first.
  *
  * Group keys may be plain dimension columns OR block indices — the
  * subsample / pyramid-build / resample shape (reference
  * subsampling.py:25-135, level.py:107, temporal.py:82-84):
  * `floor((dim ± c) / s)`, `floor((c - dim) / s)` (image-down y axes),
  * and the composed `(floor((dim - c) / s) / k).cast(long)` that a
  * pyramid level built over a base grid emits. A block key is computed
  * per cell from the chunk's own O(chunk) coordinate slice with Spark's
  * exact Floor/Cast-over-double semantics, so `GROUP BY floor(x/k),
  * floor(y/k)` — building a pyramid level FROM the archive — folds per
  * chunk exactly like a plain dim group instead of streaming every cell
  * through the exchange.
  *
  * Aggregated columns may be plain (dims or data variables) or the
  * NaN-skipping guard `CASE WHEN v <= +Inf THEN v END` — Spark's double
  * ordering makes `v <= +Inf` false exactly for NaN, which is how
  * [[graft.operators.TemporalOps.methodAgg]] expresses xarray's skipna
  * in translatable form. The fold then counts/sums/compares only non-NaN
  * cells and emits null for a group with none — precisely Spark's own
  * null-skipping aggregate semantics over the guarded column.
  *
  * Semantics match Spark's partial aggregation exactly: cells are never
  * null (missing chunks decode to the fill value), unguarded
  * Count/CountStar therefore count cells, Sum is plain double addition
  * in cell order (the same order the row scan would feed Spark's partial
  * agg), and Min/Max use `java.lang.Double.compare` ordering — NaN
  * greatest, -0.0 < 0.0 — which is Spark's DoubleType ordering. Double
  * group keys normalize -0.0 to 0.0 and canonicalize NaN bits, mirroring
  * Spark's grouping-key normalization; block keys are longs computed
  * bit-for-bit as the Floor(Divide(...))/Cast chain Spark would run, NaN
  * and ±Inf included.
  *
  * When the ANALYZE sidecar ([[ChunkStats]], inline form) answers EVERY
  * surviving chunk, nothing is left to read and the scan finishes the
  * job itself: it merges the per-chunk rows by group key on the driver
  * ([[finalRows]], Spark's merge semantics) and returns the final rows in
  * its one stat-row partition, and the builder accepts the pushdown as
  * COMPLETE — Spark plans no partial or final aggregate and no exchange,
  * so the query is one job. A chunk the sidecar cannot answer keeps the
  * partial shape above.
  *
  * The reference analog is dask's blockwise tree-reduction over chunked
  * arrays (`dataset.mean()` folds each chunk before any inter-worker
  * communication); this is that behavior surfaced through Catalyst so ANY
  * relational aggregate over the cube — SQL included — gets chunk-local
  * folding for free, across every connector that shares this scan engine
  * (zarr v2/v3, netcdf, geotiff, kerchunk archives).
  */
final case class ZarrVarAggScan(meta: ZarrGroupMeta, consumed: Array[Filter],
                                agg: Aggregation,
                                schema: StructType,
                                groupKeys: Seq[ZarrGroupKey])
    extends Scan with Batch {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"ZarrVarAggScan ${meta.groupDir} GroupBy: [" +
      groupKeys.map(_.render).mkString(", ") + "] " +
      "PushedAggregates: [" +
      agg.aggregateExpressions.map(_.toString).mkString(", ") + "], " +
      s"PushedFilters: [${consumed.map(_.toString).mkString(", ")}]"

  /** The inner cell scan reads dims first, then exactly the data vars the
    * aggregates touch (variable pruning still applies: `sum(v1)` over a
    * 40-variable group decodes one variable). */
  private[zarr] def innerRequired: StructType = {
    val cols = innerCols
    StructType(ZarrTable.schemaFor(meta).fields
      .filter(f => cols.contains(f.name)))
  }

  private def innerCols: Seq[String] = {
    def cols(e: VExpr): Seq[String] =
      ZarrVarAggScan.aggColumn(meta, e).toSeq
        .flatMap(c => c.name +: c.guard.toSeq)
    val vars = agg.aggregateExpressions.toSeq.flatMap {
      case c: Count => cols(c.column)
      case m: Min => cols(m.column)
      case m: Max => cols(m.column)
      case s: Sum => cols(s.column)
      case _ => Nil
    } ++ groupKeys.collect { case k if k.isVar => k.dim } // histogram keys
    meta.za.dims ++ vars.filter(meta.dataVars.contains).distinct
  }

  /** Index group keys and aggregated columns against the INNER SCHEMA's
    * field order — the order the chunk cursor actually emits (schemaFor
    * keeps dims first, then dataVars in their SORTED resolution order),
    * NOT the aggregate-appearance order of innerCols: binding against
    * appearance order silently swaps variables when a query aggregates
    * 2+ data vars out of alphabetical order (e.g. agg(sum("w"), sum("v"))). */
  private lazy val names: Seq[String] = innerRequired.fieldNames.toSeq

  private lazy val specs: Seq[ZarrAggSpec] = {
    def spec(op: Int, column: VExpr): ZarrAggSpec = {
      val c = ZarrVarAggScan.aggColumn(meta, column).get
      val colIdx = names.indexOf(c.name)
      ZarrAggSpec(op, colIdx, c.guard.isDefined, c.squared,
        c.guard.map(names.indexOf).getOrElse(colIdx), c.abs)
    }
    agg.aggregateExpressions.toSeq.map {
      case _: CountStar => ZarrAggSpec(ZarrAggSpec.CountStar, -1)
      case c: Count => spec(ZarrAggSpec.Count, c.column)
      case m: Min => spec(ZarrAggSpec.Min, m.column)
      case m: Max => spec(ZarrAggSpec.Max, m.column)
      case s: Sum => spec(ZarrAggSpec.Sum, s.column)
      case other =>
        throw new IllegalStateException(s"unexpected pushed aggregate $other")
    }
  }

  /** The chunk plan: the partial rows the ANALYZE sidecar answers and the
    * chunks that must be read. A chunk whose cells are ALL selected and
    * whose group keys are constant across it answers its partial row
    * straight from the per-chunk moments — zero chunk IO. Chunks the
    * sidecar cannot answer exactly fold in the reader. Planned once per
    * scan: the builder consults it to accept a complete pushdown. */
  private lazy val planned: (Seq[Seq[Any]], Seq[ZarrInputPartition]) = {
    val shared = ZarrScan.sharedState(meta, innerRequired, consumed, None)
    val chunkParts =
      ZarrScan.planChunkParts(meta, consumed, Array.empty, innerRequired, None)
    meta.stats match {
      case Some(st) =>
        // bulk-resolve the needed (variable, chunk) moments once — with
        // the parquet side table that is one broadcast join over exactly
        // this scan's chunk keys
        val neededVars = (specs.collect {
          case sp if sp.colIdx >= 0 => names(sp.colIdx)
        } ++ groupKeys.filter(_.isVar).map(_.dim) ++
          shared.varIvs.map(_._1)).distinct.filter(meta.dataVars.contains)
        val statMap = st.bulk(neededVars,
          chunkParts.map(_.key.mkString(".")))
        val rows = Seq.newBuilder[Seq[Any]]
        val reads = Seq.newBuilder[ZarrInputPartition]
        chunkParts.foreach { cp =>
          statRowFor(cp, statMap, shared, specs, names) match {
            case Some(r) => rows += r
            case None => reads += cp
          }
        }
        (rows.result(), reads.result())
      case None => (Seq.empty[Seq[Any]], chunkParts)
    }
  }

  /** Whether the sidecar answers every surviving chunk: the scan then
    * returns FINAL rows ([[finalRows]]), so the builder accepts a complete
    * pushdown. Only an inline sidecar qualifies — resolving the parquet
    * side table is a Spark job, which planning must not run. */
  private[zarr] def statsComplete: Boolean =
    meta.stats.exists(_.isInstanceOf[ChunkStats.EagerStats]) &&
      planned._2.isEmpty

  override def planInputPartitions(): Array[InputPartition] = {
    val (statRows, readParts) = planned
    if (statsComplete)
      return Array(ZarrStatRowsPartition(finalRows(statRows)))
    val bound = groupKeys.map(k => k.copy(colIdx = names.indexOf(k.dim))).toArray
    val readPartitions =
      ZarrScan.pack(readParts, meta.za, innerRequired.fields.length).map { p =>
        ZarrVarAggPartition(p.asInstanceOf[ZarrPackedPartition], bound,
          specs): InputPartition
      }
    if (statRows.isEmpty) readPartitions
    else readPartitions ++ statRows.grouped(8192)
      .map(rs => ZarrStatRowsPartition(rs): InputPartition)
  }

  /** Merge per-chunk partial rows into the aggregate's final rows, by
    * group key in chunk order, with Spark's own merge semantics: counts
    * add; a sum adds its non-null partials onto 0.0 (null when none
    * was), NaN propagating; min/max keep the least/greatest non-null
    * partial under Spark's double ordering (NaN greatest, -0.0 equal to
    * 0.0, the earlier partial kept on a tie). Keys are already normalized
    * per chunk (-0.0 → 0.0, canonical NaN) and compare by their bits. A
    * global aggregate always yields one row, even over no chunk. */
  private def finalRows(partials: Seq[Seq[Any]]): Seq[Seq[Any]] = {
    val nk = groupKeys.length
    def keyBits(r: Seq[Any]): Seq[Long] = r.take(nk).map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case n: Long => n
      case i: Int => i.toLong
      case other => throw new IllegalStateException(s"group key $other")
    }
    def cmp(a: Any, b: Any): Int =
      org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(
        a.asInstanceOf[Double], b.asInstanceOf[Double])
    def merge(acc: Array[Any], r: Seq[Any]): Unit =
      specs.indices.foreach { i =>
        val (a, b) = (acc(nk + i), r(nk + i))
        acc(nk + i) = specs(i).op match {
          case ZarrAggSpec.CountStar | ZarrAggSpec.Count =>
            a.asInstanceOf[Long] + b.asInstanceOf[Long]
          case _ if b == null => a
          case ZarrAggSpec.Sum =>
            (if (a == null) 0.0 else a.asInstanceOf[Double]) + b.asInstanceOf[Double]
          case ZarrAggSpec.Min => if (a == null || cmp(b, a) < 0) b else a
          case ZarrAggSpec.Max => if (a == null || cmp(b, a) > 0) b else a
        }
      }
    def empty(r: Seq[Any]): Array[Any] =
      (r.take(nk) ++ specs.map(s =>
        if (s.op == ZarrAggSpec.CountStar || s.op == ZarrAggSpec.Count) 0L
        else null)).toArray
    val groups = new java.util.LinkedHashMap[Seq[Long], Array[Any]]()
    partials.foreach { r =>
      merge(groups.computeIfAbsent(keyBits(r), _ => empty(r)), r)
    }
    import scala.jdk.CollectionConverters._
    if (nk == 0 && groups.isEmpty) Seq(empty(Nil).toSeq)
    else groups.values.asScala.map(_.toSeq).toSeq
  }

  /** This chunk's partial-aggregate row from the sidecar alone, or None
    * when it must be read: demands (1) every in-bounds cell selected by
    * the consumed dim rectangle, (2) every consumed variable constraint
    * provably admitting the chunk's whole value set, (3) every group key
    * constant across the chunk, (4) every aggregate derivable from the
    * moments. The derived values replay the fold bit-for-bit: the
    * sidecar's sums were folded in the same cell order by [[ChunkStats
    * .analyze]], and min/max use the same compare ordering. */
  private def statRowFor(cp: ZarrInputPartition,
                         statMap: Map[(String, String), ChunkStats.VarStat],
                         shared: ZarrScan.SharedScanState,
                         specs: Seq[ZarrAggSpec], names: Seq[String])
      : Option[Seq[Any]] = {
    val za = meta.za
    val keyStr = cp.key.mkString(".")
    val slices = za.dims.indices.map { k =>
      val s = cp.key(k) * za.chunks(k)
      meta.coords(k).slice(s, math.min(s + za.chunks(k), za.shape(k)))
    }
    if (!ZarrScan.chunkFullySelected(meta, shared, cp)) return None
    def statOf(v: String): Option[ChunkStats.VarStat] =
      statMap.get((v, keyStr))
    val cells = slices.map(_.length.toLong).product
    val varsOk = shared.varIvs.forall { case (nm, packed) =>
      statOf(nm).exists(s => s.cells == cells &&
        ChunkStats.fullyAdmits(s, packed))
    }
    if (!varsOk) return None
    val keyVals: Seq[Option[Any]] = groupKeys.map { gk =>
      if (!gk.isVar) {
        val k = za.dims.indexOf(gk.dim)
        scala.util.Try {
          val bits = slices(k).map(v => gk.kind match {
            case ZarrGroupKey.Id =>
              val d = if (v == 0.0) 0.0 else v
              java.lang.Double.doubleToLongBits(d)
            case ZarrGroupKey.Extract => gk.evalExtract(v).toLong
            case _ => gk.evalLong(v)
          }).distinct
          if (bits.length != 1) None
          else Some(gk.kind match {
            case ZarrGroupKey.Id =>
              java.lang.Double.longBitsToDouble(bits.head): Any
            case ZarrGroupKey.Extract => bits.head.toInt: Any
            case _ => bits.head: Any
          })
        }.toOption.flatten
      } else statOf(gk.dim).flatMap { vs =>
        if (vs.cells != cells) None
        else if (vs.finite == 0L) scala.util.Try(keyOfValue(gk, Double.NaN)).toOption
        else if (vs.nan == 0L &&
          java.lang.Double.compare(vs.min, vs.max) == 0)
          scala.util.Try(keyOfValue(gk, vs.min)).toOption
        else if (vs.nan == 0L &&
          (gk.kind == ZarrGroupKey.Floor || gk.kind == ZarrGroupKey.FloorDiv) &&
          scala.util.Try(
            keyOfValue(gk, vs.min) == keyOfValue(gk, vs.max))
            .getOrElse(false))
          // Floor/FloorDiv keys are MONOTONE in the value (an affine map,
          // a divide, floor and trunc-div are each monotone, in either
          // direction), so equal keys at both extremes pin every cell's
          // key — the single-BUCKET chunk of a histogram or quantile
          // refinement scan answers its whole partial row from moments
          scala.util.Try(keyOfValue(gk, vs.min)).toOption
        else None
      }
    }
    if (keyVals.exists(_.isEmpty)) return None
    val aggVals: Seq[Option[Any]] = specs.map { s =>
      if (s.op == ZarrAggSpec.CountStar) Some(cells: Any)
      else {
        val colName = names(s.colIdx)
        if (!meta.dataVars.contains(colName)) None // dim aggregate: read
        else statOf(colName).flatMap { vs =>
          if (vs.cells != cells) None else derive(s, vs)
        }
      }
    }
    if (aggVals.exists(_.isEmpty)) None
    else Some(keyVals.map(_.get) ++ aggVals.map(_.get))
  }

  /** A value-derived group key of a constant-valued chunk, with the
    * reader's exact normalization (Id: -0.0→0.0, canonical NaN). */
  private def keyOfValue(gk: ZarrGroupKey, v: Double): Any = gk.kind match {
    case ZarrGroupKey.Id =>
      java.lang.Double.longBitsToDouble(java.lang.Double.doubleToLongBits(
        if (v == 0.0) 0.0 else v)): Any
    case ZarrGroupKey.Extract => gk.evalExtract(v): Any
    case _ => gk.evalLong(v): Any
  }

  /** One aggregate value from a chunk's moments, when exactly derivable.
    * Null/NaN semantics mirror the fold: plain aggregates see every cell
    * (a NaN poisons Sum and wins Max; Min still finds the finite
    * minimum — NaN is greatest); guarded aggregates skip NaN and emit
    * null when nothing contributed. min(v·v) and min/sum(|v|) over a
    * span straddling zero are the underivable shapes — the chunk is
    * read instead. The abs derivations match the fold bit-for-bit:
    * abs(min) (not min itself) so a −0.0 extreme normalizes like the
    * per-cell math.abs, and −sum for all-nonpositive chunks (IEEE
    * round-to-nearest is sign-symmetric, so Σ|vᵢ| == −Σvᵢ exactly). */
  private def derive(s: ZarrAggSpec, vs: ChunkStats.VarStat): Option[Any] = {
    // a CROSS-column guard (min of t where v is valid) needs joint
    // (guard, value) information the per-variable moments cannot carry
    if (s.skipNaN && s.guardIdx != s.colIdx) return None
    val allNaN = vs.finite == 0L
    def empty: Option[Any] = Some(if (s.skipNaN) null else Double.NaN)
    s.op match {
      case ZarrAggSpec.Count =>
        Some((if (s.skipNaN) vs.finite else vs.cells): Any)
      case ZarrAggSpec.Min =>
        if (allNaN) empty
        else if (s.squared) {
          if (vs.min >= 0.0) Some(vs.min * vs.min)
          else if (vs.max <= 0.0) Some(vs.max * vs.max)
          else None
        } else if (s.absVal) {
          if (vs.min >= 0.0) Some(math.abs(vs.min))
          else if (vs.max <= 0.0) Some(math.abs(vs.max))
          else None
        } else Some(vs.min)
      case ZarrAggSpec.Max =>
        if (allNaN) empty
        else if (!s.skipNaN && vs.nan > 0L) Some(Double.NaN)
        else if (s.squared) Some(math.max(vs.min * vs.min, vs.max * vs.max))
        else if (s.absVal)
          Some(math.max(math.abs(vs.min), math.abs(vs.max)))
        else Some(vs.max)
      case ZarrAggSpec.Sum =>
        if (allNaN) empty
        else if (!s.skipNaN && vs.nan > 0L) Some(Double.NaN)
        else if (s.squared) Some(vs.sumsq)
        else if (s.absVal) {
          if (vs.min >= 0.0) Some(vs.sum)
          else if (vs.max <= 0.0) Some(-vs.sum)
          else None
        } else Some(vs.sum)
      case _ => None
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ZarrVarAggReaderFactory(
      ZarrScan.sharedState(meta, innerRequired, consumed, dim0Range = None))
}

/** A resolved pushed-aggregate column: the value column, its NaN-guard
  * column if CASE-guarded, and whether the aggregated quantity is the
  * column's SQUARE (second-moment partial) or ABSOLUTE VALUE (the
  * truthiness partial behind resample any/all — |v| > 0 ⇔ v ≠ 0, exact
  * down to subnormals where the squared form underflows). */
final case class ZarrAggCol(name: String, guard: Option[String],
                            squared: Boolean, abs: Boolean)

object ZarrVarAggScan {
  /** Resolve a pushed aggregate COLUMN: a plain dim / data-variable
    * reference, the NaN-skipping guard `CASE WHEN g <= +Inf THEN col
    * END` (false only for NaN under Spark's double ordering — the
    * translatable skipna form; the guard column may DIFFER from the
    * value column, e.g. `min(CASE WHEN v <= +Inf THEN t END)` — the
    * first-valid-TIME partial behind resample first/last), the SQUARE
    * `col * col` of either — the second-moment partial that lets
    * stddev/var fold per chunk (Spark only partial-pushes
    * Min/Max/Sum/Count, so compute_statistics ships `sum(v), sum(v*v),
    * count` and finishes the moment math above the scan) — or the
    * ABSOLUTE VALUE `abs(col)` of either — the truthiness partial
    * behind resample any/all (min/max(|v|) > 0, underflow-free). */
  private[zarr] def aggColumn(meta: ZarrGroupMeta, e: VExpr)
      : Option[ZarrAggCol] = e match {
    case g: GeneralScalarExpression
        if g.name == "*" && g.children().length == 2 =>
      for {
        (n1, g1) <- plainCol(meta, g.children()(0))
        (n2, g2) <- plainCol(meta, g.children()(1))
        if n1 == n2 && g1 == g2
      } yield ZarrAggCol(n1, g1, squared = true, abs = false)
    case g: GeneralScalarExpression
        if g.name == "ABS" && g.children().length == 1 =>
      plainCol(meta, g.children()(0)).map { case (n, gd) =>
        ZarrAggCol(n, gd, squared = false, abs = true)
      }
    // Catalyst pushes the null-intolerant ABS into the guard's branch,
    // so the optimized any/all partial arrives guard-OUTSIDE:
    // `CASE WHEN g <= +Inf THEN ABS(v) END` ≡ `ABS(CASE WHEN ... END)`
    // (abs(null) = null) — same fold, same stats answer.
    case g: GeneralScalarExpression
        if g.name == "CASE_WHEN" && g.children().length == 2 &&
          (g.children()(1) match {
            case i: GeneralScalarExpression => i.name == "ABS"
            case _ => false
          }) =>
      val inner = g.children()(1).asInstanceOf[GeneralScalarExpression]
      for {
        guarded <- nanGuard(meta, g.children()(0))
        name <- inner.children()(0) match {
          case fr: NamedReference => colOf(meta, fr)
          case _ => None
        }
      } yield ZarrAggCol(name, Some(guarded), squared = false, abs = true)
    case _ => plainCol(meta, e).map { case (n, g) =>
      ZarrAggCol(n, g, squared = false, abs = false)
    }
  }

  /** A plain column reference or its NaN-skip-guarded form
    * (guard column, possibly ≠ value column). */
  private def plainCol(meta: ZarrGroupMeta,
                       e: VExpr): Option[(String, Option[String])] = e match {
    case fr: NamedReference if colOf(meta, fr).isDefined =>
      colOf(meta, fr).map(_ -> None)
    case g: GeneralScalarExpression
        if g.name == "CASE_WHEN" && g.children().length == 2 =>
      g.children()(1) match {
        case value: NamedReference =>
          for {
            name <- colOf(meta, value)
            guarded <- nanGuard(meta, g.children()(0))
          } yield name -> Some(guarded)
        case _ => None
      }
    case _ => None
  }

  /** Matches the translatable skipna condition `g <= +Inf` (false only
    * for NaN under Spark's double ordering) and returns the guard
    * column. */
  private def nanGuard(meta: ZarrGroupMeta, e: VExpr): Option[String] =
    e match {
      case cond: GeneralScalarExpression
          if cond.name == "<=" && cond.children().length == 2 =>
        for {
          guarded <- cond.children()(0) match {
            case fr: NamedReference => colOf(meta, fr)
            case _ => None
          }
          lim <- litNum(cond.children()(1))
          if lim == Double.PositiveInfinity
        } yield guarded
      case _ => None
    }

  private def colOf(meta: ZarrGroupMeta, fr: NamedReference): Option[String] =
    if (fr.fieldNames.length == 1 &&
      (meta.za.dims.contains(fr.fieldNames.head) ||
        meta.dataVars.contains(fr.fieldNames.head)))
      Some(fr.fieldNames.head)
    else None

  private def litNum(e: VExpr): Option[Double] = e match {
    case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
      l.value match {
        case d: java.lang.Double => Some(d.doubleValue)
        case f: java.lang.Float => Some(f.toDouble)
        case n: java.lang.Number => Some(n.doubleValue())
        case _ => None
      }
    case _ => None
  }

  private def dimRef(meta: ZarrGroupMeta, e: VExpr): Option[String] = e match {
    case fr: NamedReference
        if fr.fieldNames.length == 1 &&
          meta.za.dims.contains(fr.fieldNames.head) =>
      Some(fr.fieldNames.head)
    case _ => None
  }

  /** A single-column reference resolved against dims OR data variables;
    * returns (name, isVar). Value-derived group keys (the histogram
    * shape `floor((v - lo)/w)`) bind to data variables. */
  private def anyRef(meta: ZarrGroupMeta,
                     e: VExpr): Option[(String, Boolean)] = e match {
    case fr: NamedReference if fr.fieldNames.length == 1 =>
      val n = fr.fieldNames.head
      if (meta.za.dims.contains(n)) Some((n, false))
      else if (meta.dataVars.contains(n)) Some((n, true))
      else None
    case _ => None
  }

  /** One pushed group-by expression as a foldable key: a plain dim/var
    * reference, a block/bucket index `FLOOR((col ± c) / s)` /
    * `FLOOR((c - col) / s)` / `FLOOR(col / s)` (Catalyst's
    * `floor(col / lit)` shapes after constant folding) over a DIM (the
    * subsample/pyramid block shape) or a DATA VARIABLE (the
    * compute_statistics histogram shape — the bucket is computable from
    * the decoded cell value), the composed `CAST(CAST(FLOOR(...) AS
    * DOUBLE) / k AS LONG)` a pyramid level built over a base grid emits
    * (GridMapping.iExpr / k), or a CALENDAR field
    * `EXTRACT(YEAR|MONTH|... FROM CAST(dim * a + b AS TIMESTAMP))` — the
    * resample_in_time("1M"/"1Q"/"1Y") shape, where the affine form turns
    * a numeric time dim (days/seconds since an epoch) into epoch seconds
    * and the field evaluates with Spark's exact cast-truncation +
    * session-timezone calendar. Offsets are stored pre-arranged so the
    * reader's reconstruction is bit-identical to Spark's own evaluation
    * (IEEE: a - b == a + (-b), c - v == -v + c, and a*b == b*a exactly).
    * Anything else returns None and the aggregate stays Spark-side. */
  private[zarr] def groupKey(meta: ZarrGroupMeta, e: VExpr,
                             zone: String = "UTC"): Option[ZarrGroupKey] =
    e match {
      case fr: NamedReference =>
        anyRef(meta, fr).map { case (nm, isVar) =>
          ZarrGroupKey(nm, ZarrGroupKey.Id, neg = false, 0.0, 1.0, 1.0,
            isVar = isVar)
        }
      case g: GeneralScalarExpression if g.name == "FLOOR" =>
        floorKey(meta, g)
      case ex: org.apache.spark.sql.connector.expressions.Extract =>
        extractKey(meta, ex, zone)
      case c: VCast if c.dataType == LongType =>
        c.expression() match {
          // a re-cast floor is still just the floor
          case f: GeneralScalarExpression if f.name == "FLOOR" =>
            floorKey(meta, f)
          // trunc-composed: (floor(...) cast double / k) cast long
          case d: GeneralScalarExpression
              if d.name == "/" && d.children().length == 2 =>
            for {
              k <- litNum(d.children()(1))
              if java.lang.Double.isFinite(k) && k != 0.0
              inner <- d.children()(0) match {
                case ic: VCast if ic.dataType == DoubleType =>
                  ic.expression() match {
                    case f: GeneralScalarExpression if f.name == "FLOOR" =>
                      floorKey(meta, f)
                    case _ => None
                  }
                case _ => None
              }
            } yield inner.copy(kind = ZarrGroupKey.FloorDiv, div = k)
          case _ => None
        }
      case _ => None
    }

  private def floorKey(meta: ZarrGroupMeta,
                       g: GeneralScalarExpression): Option[ZarrGroupKey] = {
    if (g.children().length != 1) return None
    g.children()(0) match {
      case d: GeneralScalarExpression
          if d.name == "/" && d.children().length == 2 =>
        for {
          s <- litNum(d.children()(1))
          if java.lang.Double.isFinite(s) && s != 0.0
          key <- d.children()(0) match {
            case fr: NamedReference =>
              anyRef(meta, fr).map { case (nm, isVar) =>
                ZarrGroupKey(nm, ZarrGroupKey.Floor, neg = false, 0.0, s,
                  1.0, isVar = isVar)
              }
            case pm: GeneralScalarExpression
                if (pm.name == "+" || pm.name == "-") &&
                  pm.children().length == 2 =>
              (anyRef(meta, pm.children()(0)), litNum(pm.children()(1)),
                anyRef(meta, pm.children()(1)), litNum(pm.children()(0))) match {
                case (Some((nm, iv)), Some(c), _, _) => // col + c / col - c
                  Some(ZarrGroupKey(nm, ZarrGroupKey.Floor, neg = false,
                    if (pm.name == "-") -c else c, s, 1.0, isVar = iv))
                case (_, _, Some((nm, iv)), Some(c)) if pm.name == "+" =>
                  Some(ZarrGroupKey(nm, ZarrGroupKey.Floor, neg = false,
                    c, s, 1.0, isVar = iv)) // c + col
                case (_, _, Some((nm, iv)), Some(c)) => // c - col (image-down y)
                  Some(ZarrGroupKey(nm, ZarrGroupKey.Floor, neg = true,
                    c, s, 1.0, isVar = iv))
                case _ => None
              }
            case _ => None
          }
        } yield key
      case _ => None
    }
  }

  /** Calendar fields this scan can fold (each IntegerType in Spark, each
    * computable from epoch micros + the session timezone with java.time's
    * proleptic-Gregorian calendar — the same engine Spark's DateTimeUtils
    * uses). WEEK/YEAR_OF_WEEK are left Spark-side (ISO-week edge cases).
    * Date-level fields arrive wrapped in the analyzer's implicit
    * timestamp→date cast (`year(ts)` plans as `Year(Cast(ts, date))`) —
    * truncating to the session-zone local date before extracting a
    * date-level field changes nothing, so the wrap unpeels; time-level
    * fields (HOUR/...) must see the timestamp directly. */
  private val DateFields = Set("YEAR", "MONTH", "QUARTER", "DAY",
    "DAY_OF_YEAR", "DAY_OF_WEEK")
  private val TimeFields = Set("HOUR", "MINUTE", "SECOND")

  private def extractKey(meta: ZarrGroupMeta,
                         ex: org.apache.spark.sql.connector.expressions.Extract,
                         zone: String): Option[ZarrGroupKey] = {
    val src = ex.source() match {
      case d: VCast if d.dataType == org.apache.spark.sql.types.DateType &&
          DateFields.contains(ex.field) =>
        d.expression() // year(cast(x as date)): date-truncation is a no-op
      case other if DateFields.contains(ex.field) ||
          TimeFields.contains(ex.field) => other
      case _ => return None
    }
    src match {
      case c: VCast if c.dataType == org.apache.spark.sql.types.TimestampType =>
        affineDim(meta, c.expression()).map { case (dm, a, b) =>
          ZarrGroupKey(dm, ZarrGroupKey.Extract, neg = false, b, a, 1.0,
            field = ex.field, zone = zone)
        }
      case _ => None
    }
  }

  /** `dim`, `dim * a`, `a * dim`, those ± b, `b + (...)`, `b - (...)` —
    * an affine map of one DIM to epoch seconds, returned as (dim, a, b)
    * with seconds = v * a + b. Every rearrangement used here is IEEE
    * bit-exact: * and + are commutative, x - c == x + (-c), and
    * c - x == (-1*x) + c does NOT hold in general so `b - (...)` only
    * accepts a bare/scaled dim where -(v*a) == v*(-a) (sign-symmetric
    * multiply, exact). */
  private def affineDim(meta: ZarrGroupMeta,
                        e: VExpr): Option[(String, Double, Double)] = e match {
    case fr: NamedReference => dimRef(meta, fr).map((_, 1.0, 0.0))
    case g: GeneralScalarExpression
        if g.name == "*" && g.children().length == 2 =>
      (g.children()(0), g.children()(1)) match {
        case (fr: NamedReference, l) =>
          for { dm <- dimRef(meta, fr); c <- litNum(l) } yield (dm, c, 0.0)
        case (l, fr: NamedReference) =>
          for { dm <- dimRef(meta, fr); c <- litNum(l) } yield (dm, c, 0.0)
        case _ => None
      }
    case g: GeneralScalarExpression
        if (g.name == "+" || g.name == "-") && g.children().length == 2 =>
      (scaledDim(meta, g.children()(0)), litNum(g.children()(1)),
        scaledDim(meta, g.children()(1)), litNum(g.children()(0))) match {
        case (Some((dm, a)), Some(c), _, _) => // (v*a) ± c
          Some((dm, a, if (g.name == "-") -c else c))
        case (_, _, Some((dm, a)), Some(c)) if g.name == "+" => // c + (v*a)
          Some((dm, a, c))
        case (_, _, Some((dm, a)), Some(c)) => // c - (v*a) == v*(-a) + c
          Some((dm, -a, c))
        case _ => None
      }
    case _ => None
  }

  private def scaledDim(meta: ZarrGroupMeta,
                        e: VExpr): Option[(String, Double)] = e match {
    case fr: NamedReference => dimRef(meta, fr).map((_, 1.0))
    case g: GeneralScalarExpression
        if g.name == "*" && g.children().length == 2 =>
      (g.children()(0), g.children()(1)) match {
        case (fr: NamedReference, l) =>
          for { dm <- dimRef(meta, fr); c <- litNum(l) } yield (dm, c)
        case (l, fr: NamedReference) =>
          for { dm <- dimRef(meta, fr); c <- litNum(l) } yield (dm, c)
        case _ => None
      }
    case _ => None
  }
}

/** One group-by key of the pushed partial aggregate.
  *
  *  - `Id`: a plain dim/var column — key is the cell value (double).
  *  - `Floor`: `floor((col + off) / scale)` or `floor((off - col) /
  *    scale)` when `neg` — key is a long with Spark's Floor semantics.
  *    Over a dim it is the subsample/pyramid block index; over a data
  *    variable (`isVar`) it is the histogram bucket.
  *  - `FloorDiv`: the Floor key re-divided and truncated,
  *    `(floorKey.toDouble / div).toLong` — Spark's Cast(double→long)
  *    on `(floor(...) / k)`, the pyramid-over-grid composition.
  *  - `Extract`: `EXTRACT(field FROM CAST(dim * scale + off AS
  *    TIMESTAMP))` — key is an int calendar field of the epoch-seconds
  *    affine of the dim, evaluated with Spark's exact cast truncation
  *    ((secs * 1e6).toLong) and session-timezone proleptic-Gregorian
  *    calendar (java.time, the engine DateTimeUtils itself uses).
  *
  * `colIdx` binds to the inner scan's column order at planning time. */
final case class ZarrGroupKey(dim: String, kind: Int, neg: Boolean,
                              off: Double, scale: Double, div: Double,
                              colIdx: Int = -1, isVar: Boolean = false,
                              field: String = "", zone: String = "UTC") {
  /** Spark-exact long key for Floor/FloorDiv kinds. */
  def evalLong(v: Double): Long = {
    val base = if (neg) off - v else v + off
    val f = math.floor(base / scale).toLong
    if (kind == ZarrGroupKey.FloorDiv) (f.toDouble / div).toLong else f
  }

  @transient private lazy val zoneId = java.time.ZoneId.of(zone)

  /** Spark-exact int calendar field for the Extract kind: epoch seconds
    * = v * scale + off (Multiply then Add, IEEE-exact rearrangements
    * only), micros = (secs * 1e6).toLong (Cast double→timestamp
    * truncation toward zero), then the field of the session-timezone
    * LocalDateTime. NaN/±Inf seconds throw, exactly like the ANSI cast
    * the query itself contains. */
  def evalExtract(v: Double): Int = {
    val secs = v * scale + off
    if (secs.isNaN || secs.isInfinite)
      throw new ArithmeticException(
        s"invalid input syntax for type timestamp: $secs seconds " +
          s"(from $dim = $v)")
    val micros = (secs * 1e6).toLong
    val ldt = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
        Math.floorMod(micros, 1000000L) * 1000L), zoneId)
    field match {
      case "YEAR" => ldt.getYear
      case "MONTH" => ldt.getMonthValue
      case "QUARTER" => (ldt.getMonthValue - 1) / 3 + 1
      case "DAY" => ldt.getDayOfMonth
      case "DAY_OF_YEAR" => ldt.getDayOfYear
      case "DAY_OF_WEEK" => ldt.getDayOfWeek.getValue % 7 + 1 // Sunday = 1
      case "HOUR" => ldt.getHour
      case "MINUTE" => ldt.getMinute
      case "SECOND" => ldt.getSecond
      case other =>
        throw new IllegalStateException(s"unplannable EXTRACT field $other")
    }
  }

  def render: String =
    if (kind == ZarrGroupKey.Id) dim
    else if (kind == ZarrGroupKey.Extract) {
      val secs =
        if (scale == 1.0 && off == 0.0) dim
        else if (off == 0.0) s"$dim * $scale"
        else s"$dim * $scale + $off"
      s"extract($field from cast($secs as timestamp) at '$zone')"
    } else {
      val base =
        if (neg) s"($off - $dim)"
        else if (off == 0.0) dim
        else if (off < 0.0) s"($dim - ${-off})"
        else s"($dim + $off)"
      val fl = s"floor($base / $scale)"
      if (kind == ZarrGroupKey.FloorDiv) s"trunc($fl / $div)" else fl
    }
}

object ZarrGroupKey {
  val Id = 0
  val Floor = 1
  val FloorDiv = 2
  val Extract = 3
}

/** One pushed aggregate: op code + the aggregated column's index in the
  * inner scan's output (−1 for count(*)) + whether the column carried
  * the NaN-skip guard + whether it is the column's SQUARE (`v * v`,
  * the second-moment partial behind stddev/var) + the GUARD column's
  * index (== colIdx for the self-guarded form; a different column for
  * `min(CASE WHEN v <= +Inf THEN t END)` — the first-valid-time
  * partial) + whether it is the column's ABSOLUTE VALUE (`abs(v)`,
  * the truthiness partial behind resample any/all). */
final case class ZarrAggSpec(op: Int, colIdx: Int, skipNaN: Boolean = false,
                             squared: Boolean = false, guardIdx: Int = -1,
                             absVal: Boolean = false)

object ZarrAggSpec {
  val CountStar = 0
  val Count = 1
  val Min = 2
  val Max = 3
  val Sum = 4
}

final case class ZarrVarAggPartition(base: ZarrPackedPartition,
                                     groupKeys: Array[ZarrGroupKey],
                                     specs: Seq[ZarrAggSpec])
    extends InputPartition

/** Rows answered from the ANALYZE sidecar at planning time — zero chunk
  * IO. Partial rows, which Spark's final aggregation merges with the
  * read partitions' folds, go out in bounded groups (8192 rows) so no
  * single task ships O(archive) rows; the driver holds them only
  * transiently, the same order of memory as the candidate chunk-key
  * vector planning already materializes. A scan the sidecar answers
  * completely emits its merged final rows as one such partition. */
final case class ZarrStatRowsPartition(rows: Seq[Seq[Any]])
    extends InputPartition

final case class ZarrVarAggReaderFactory(shared: ZarrScan.SharedScanState)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case sr: ZarrStatRowsPartition =>
        new PartitionReader[InternalRow] {
          private val it = sr.rows.iterator
          private var cur: Seq[Any] = _
          override def next(): Boolean =
            if (it.hasNext) { cur = it.next(); true } else false
          override def get(): InternalRow = new GenericInternalRow(cur.toArray)
          override def close(): Unit = ()
        }
      case p: ZarrVarAggPartition => new ZarrVarAggReader(shared, p)
    }
}

/** Folds the task's in-bounds cells into per-group partial states in one
  * direct pass over the chunk cursors (primitive reads, no per-cell row
  * allocation), then emits one row per group. State is bounded by the
  * task's distinct group-key count (≤ its cell count — executor memory
  * never depends on archive size; block keys only shrink it).
  */
final class ZarrVarAggReader(shared: ZarrScan.SharedScanState,
                             p: ZarrVarAggPartition)
    extends PartitionReader[InternalRow] {

  private final class GroupState(val keyBits: Array[Long]) {
    val counts = new Array[Long](p.specs.length)
    val doubles = new Array[Double](p.specs.length)
    // per-spec "contributed at least once": min/max/sum of an all-skipped
    // (all-NaN guarded) column must emit null, exactly like Spark's
    // null-skipping aggregate over the guarded scan
    val has = new Array[Boolean](p.specs.length)
  }

  /** Map key over the group-key bits (canonical double bits for dim keys,
    * the long block index itself for floor keys), hash cached. The probe
    * instance is reused across cells (bits array shared); only a MISS
    * clones it for storage — one small allocation per cell instead of
    * two arrays plus a boxed Seq. */
  private final class GroupKey(val bits: Array[Long]) {
    override val hashCode: Int = java.util.Arrays.hashCode(bits)
    override def equals(o: Any): Boolean = o match {
      case g: GroupKey => java.util.Arrays.equals(bits, g.bits)
      case _ => false
    }
  }

  private lazy val groups: Iterator[GroupState] = {
    val m = new java.util.LinkedHashMap[GroupKey, GroupState]()
    val specs = p.specs.toArray
    val keys = p.groupKeys
    val prefetched = PackedPrefetch(shared, p.base.chunks)
    val probeBits = new Array[Long](keys.length)
    p.base.chunks.zipWithIndex.foreach { case (cp, ci) =>
      val cur = new ChunkCursor(shared, cp, prefetched.map(_(ci)))
      while (cur.advance()) {
        var g = 0
        while (g < keys.length) {
          val k = keys(g)
          val v = cur.colValue(k.colIdx)
          probeBits(g) = k.kind match {
            case ZarrGroupKey.Id =>
              var d = v
              if (d == 0.0) d = 0.0 // normalize -0.0: Spark groups it with 0.0
              java.lang.Double.doubleToLongBits(d) // canonical NaN
            case ZarrGroupKey.Extract => k.evalExtract(v).toLong
            case _ => k.evalLong(v)
          }
          g += 1
        }
        var st = m.get(new GroupKey(probeBits))
        if (st == null) {
          val bits = probeBits.clone()
          st = new GroupState(bits)
          m.put(new GroupKey(bits), st)
        }
        var i = 0
        while (i < specs.length) {
          val s = specs(i)
          s.op match {
            case ZarrAggSpec.CountStar =>
              st.counts(i) += 1L // cells are never null
            case ZarrAggSpec.Count =>
              // count(CASE WHEN g <= +Inf THEN v END): null iff the
              // GUARD column is NaN (the value rides through even as NaN)
              if (!s.skipNaN || !cur.colValue(s.guardIdx).isNaN)
                st.counts(i) += 1L
            case ZarrAggSpec.Min =>
              if (!s.skipNaN || !cur.colValue(s.guardIdx).isNaN) {
                val raw = cur.colValue(s.colIdx)
                val v = if (s.squared) raw * raw
                  else if (s.absVal) math.abs(raw) else raw
                if (!st.has(i) || java.lang.Double.compare(v, st.doubles(i)) < 0)
                  st.doubles(i) = v
                st.has(i) = true
              }
            case ZarrAggSpec.Max =>
              if (!s.skipNaN || !cur.colValue(s.guardIdx).isNaN) {
                val raw = cur.colValue(s.colIdx)
                val v = if (s.squared) raw * raw
                  else if (s.absVal) math.abs(raw) else raw
                if (!st.has(i) || java.lang.Double.compare(v, st.doubles(i)) > 0)
                  st.doubles(i) = v
                st.has(i) = true
              }
            case ZarrAggSpec.Sum =>
              if (!s.skipNaN || !cur.colValue(s.guardIdx).isNaN) {
                val raw = cur.colValue(s.colIdx)
                st.doubles(i) += (if (s.squared) raw * raw
                  else if (s.absVal) math.abs(raw) else raw)
                st.has(i) = true
              }
          }
          i += 1
        }
      }
    }
    import scala.jdk.CollectionConverters._
    m.values().iterator().asScala
  }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (groups.hasNext) {
      val st = groups.next()
      val keys = p.groupKeys
      val out = new Array[Any](keys.length + p.specs.length)
      var g = 0
      while (g < keys.length) {
        out(g) = keys(g).kind match {
          case ZarrGroupKey.Id =>
            java.lang.Double.longBitsToDouble(st.keyBits(g))
          case ZarrGroupKey.Extract => st.keyBits(g).toInt // calendar field
          case _ => st.keyBits(g) // long block/bucket idx
        }
        g += 1
      }
      var i = 0
      while (i < p.specs.length) {
        val s = p.specs(i)
        out(keys.length + i) = s.op match {
          case ZarrAggSpec.CountStar | ZarrAggSpec.Count => st.counts(i)
          case _ => if (st.has(i)) st.doubles(i) else null
        }
        i += 1
      }
      current = new GenericInternalRow(out)
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
