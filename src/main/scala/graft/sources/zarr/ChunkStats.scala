package graft.sources.zarr

import graft.sources.ByteStore
import graft.sources.ZarrSource.ZarrArray
import org.apache.spark.sql.{Dataset, SparkSession}

/** Per-chunk value statistics for a cube group — the zone maps parquet
  * row groups get for free, persisted as a sidecar beside the group.
  *
  * Two scan-engine consumers:
  *
  *  - **Value-predicate chunk pruning.** A consumed data-variable
  *    predicate (`v > t`) prunes any chunk whose possible-value set —
  *    `[min, max] ∪ {NaN if nanCount > 0}` — misses every interval, the
  *    same read elision dimension predicates get from the coordinates.
  *    Pruning is advisory (a chunk missing from the sidecar is never
  *    pruned) and cannot change results: the cursor re-evaluates the
  *    predicate cell-for-cell on every chunk it does read.
  *  - **Zero-IO aggregate partials.** A chunk whose cells are ALL
  *    selected (dim rectangle covers it, any value mask provably admits
  *    its whole span) and whose pushed group keys are constant across it
  *    answers its partial-aggregate row straight from the sidecar — a
  *    global `compute_statistics` over an analyzed archive reads no
  *    chunk at all ([[ZarrVarAggScan]] stat rows).
  *
  * ==The sidecar format==
  * This object is the only code that knows it. Every producer — the
  * writers [[graft.sources.ZarrSource.writeCubeVars]],
  * [[graft.sources.ZarrSource.appendCube]] and
  * [[graft.sources.ZarrV3Source.writeCube]], and [[analyze]] — folds each
  * chunk with [[chunkRows]] and hands the rows to [[writeSidecar]].
  *
  *  - **Rows.** One [[StatRow]] per (data variable, chunk), keyed by the
  *    chunk indices joined with `.` (`"2.0.1"`), plus one per (variable,
  *    populated block of the variable's block grid), keyed
  *    `"<chunk>#<ord>"` with `ord` the block's row-major ordinal in the
  *    chunk's block grid.
  *  - **Moments.** Each row holds `[cells, nan, min, max, sum, sumsq]`,
  *    in this order, over the chunk's (block's) IN-BOUNDS cells folded in
  *    C order ([[fold]]) — the partial-aggregate reader's cell order, so
  *    a stat-row sum is bit-identical to the fold it replaces. min/max/
  *    sum/sumsq cover the non-NaN cells ([[java.lang.Double.compare]]
  *    ordering) and are NaN when every cell is NaN; every Spark aggregate
  *    form over the cell values (plain, NaN-guarded, squared) derives
  *    from these exactly.
  *  - **Encoding.** The four doubles are stored as raw IEEE-754 bits
  *    (JSON has no NaN/±Inf literals; bits round-trip exactly).
  *  - **Block grid** ([[blockGrid]]). A sharded variable's blocks are its
  *    shard's inner chunks; a LARGE plain-codec chunk of a v2 or refs
  *    table gets a virtual strip grid ([[virtualGrid]]), which lets the
  *    reader skip the element-wise decode of excluded strips; anything
  *    else — v3 plain chunks included, which the reader never strip-skips
  *    — has none.
  *  - **Document.** `_graft_stats.json` holds `graft_stats_format` (1),
  *    the grid's `shape` and `chunks`, the group's write `generation`
  *    token when it has one, and `block_grids` (variable → virtual strip
  *    shape; sharded grids derive from the codec). The rows are inlined
  *    under `vars` (variable → key → the six numbers) while the group's
  *    row bound ([[inlineRowBound]]) fits the inline budget
  *    ([[MaxInlineStatRows]]); past it the tasks write them to the
  *    DISTRIBUTED `_graft_stats.parquet` side table (columns `var, key,
  *    cells, nan, minBits, maxBits, sumBits, sumsqBits`) and the document
  *    says `"storage": "parquet"` — nothing chunk-count-sized lands on the
  *    driver, and each query bulk-fetches only ITS candidate chunks' rows
  *    (broadcast-joined on chunk key, the archive-index pattern).
  *
  * Staleness contract: the sidecar records the grid's shape + chunk
  * extents and is ignored on any mismatch, which self-invalidates every
  * shape-changing mutation (append, DELETE truncation, rechunk/unchunk).
  * The one same-shape mutation — a writer overwriting chunk objects of
  * an existing identical grid — deletes the discovery document first
  * ([[invalidate]] from the writers), which orphans (and thereby
  * disables) any parquet side table. Reference analog: xarray/dask keep
  * no such statistics and re-read chunks for every reduction; this is
  * the Spark-native ANALYZE TABLE for cube stores.
  */
object ChunkStats {

  val FileName = "_graft_stats.json"
  val ParquetName = "_graft_stats.parquet"
  val GenFileName = "_graft_gen"

  /** One variable's moments over one chunk or block (the format's
    * moments, decoded). */
  final case class VarStat(cells: Long, nan: Long, min: Double, max: Double,
                           sum: Double, sumsq: Double) {
    def finite: Long = cells - nan
  }

  /** One sidecar row as stored: variable `v`'s moments over chunk or
    * block `key`, the doubles as raw bits. */
  final case class StatRow(v: String, key: String, cells: Long, nan: Long,
                           minBits: Long, maxBits: Long, sumBits: Long,
                           sumsqBits: Long) {
    def stat: VarStat = VarStat(cells, nan,
      java.lang.Double.longBitsToDouble(minBits),
      java.lang.Double.longBitsToDouble(maxBits),
      java.lang.Double.longBitsToDouble(sumBits),
      java.lang.Double.longBitsToDouble(sumsqBits))
  }

  object StatRow {
    def apply(v: String, key: String, st: VarStat): StatRow =
      StatRow(v, key, st.cells, st.nan,
        java.lang.Double.doubleToRawLongBits(st.min),
        java.lang.Double.doubleToRawLongBits(st.max),
        java.lang.Double.doubleToRawLongBits(st.sum),
        java.lang.Double.doubleToRawLongBits(st.sumsq))
  }

  /** The side table's column names, in [[StatRow]] field order. */
  private val ParquetColumns =
    Seq("var", "key", "cells", "nan", "minBits", "maxBits", "sumBits",
      "sumsqBits")

  /** A loaded sidecar: bulk-resolve the moments of (variables × chunk
    * keys); pairs the sidecar has no row for are simply absent (the
    * consumers treat absence as "must read the chunk"). `grids` is the
    * document's `block_grids` — the planner needs it to enumerate block
    * ordinals and the cursor to skip excluded blocks' decode. */
  sealed trait Loaded {
    def bulk(vars: Seq[String], keys: Seq[String])
        : Map[(String, String), VarStat]
    def grids: Map[String, Seq[Int]]
  }

  /** Document-inlined moments, fully resident (the json form). */
  final case class EagerStats(vars: Map[String, Map[String, VarStat]],
                              grids: Map[String, Seq[Int]] = Map.empty)
      extends Loaded {
    override def bulk(vs: Seq[String], keys: Seq[String])
        : Map[(String, String), VarStat] = {
      val b = Map.newBuilder[(String, String), VarStat]
      vs.foreach { v =>
        vars.get(v).foreach { m =>
          keys.foreach { k => m.get(k).foreach(st => b += ((v, k) -> st)) }
        }
      }
      b.result()
    }
  }

  /** Moments in a distributed parquet side table: resolution is one
    * broadcast join of the candidate keys against it — driver memory is
    * O(candidates × vars), never O(archive). */
  final case class ParquetStats(path: String,
                                grids: Map[String, Seq[Int]] = Map.empty)
      extends Loaded {
    override def bulk(vs: Seq[String], keys: Seq[String])
        : Map[(String, String), VarStat] =
      // advisory: a missing/corrupt side table (orphaned by a deleted
      // export, interrupted write) disables the optimization, never the
      // query — absent pairs just mean "read the chunk"
      scala.util.Try(bulkStrict(vs, keys)).getOrElse(Map.empty)

    private def bulkStrict(vs: Seq[String], keys: Seq[String])
        : Map[(String, String), VarStat] = {
      if (vs.isEmpty || keys.isEmpty) return Map.empty
      val spark = SparkSession.active
      import org.apache.spark.sql.functions.{broadcast, col}
      import spark.implicits._
      spark.read.parquet(path)
        .filter(col("var").isin(vs: _*))
        .join(broadcast(keys.distinct.toDF("k")), col("key") === col("k"))
        .select(ParquetColumns.map(col): _*)
        .collect()
        .map { r =>
          val row = StatRow(r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
            r.getLong(7))
          (row.v, row.key) -> row.stat
        }.toMap
    }
  }

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Load the sidecar for a group if one exists AND matches the grid's
    * shape + chunk extents (stale sidecars are ignored, never trusted).
    * The sidecar is ADVISORY: a malformed or truncated document — an
    * interrupted write — silently disables the optimization instead of
    * failing every read of the group. */
  def load(store: ByteStore, dir: String, za: ZarrArray,
           groupDir: String): Option[Loaded] =
    scala.util.Try(loadStrict(store, dir, za, groupDir)).toOption.flatten

  private def loadStrict(store: ByteStore, dir: String, za: ZarrArray,
                         groupDir: String): Option[Loaded] =
    store.readIfExists(s"$dir/$FileName").flatMap { bytes =>
      val doc = mapper.readTree(bytes)
      val okShape = doc.path("graft_stats_format").asInt(-1) == 1 &&
        jsonInts(doc.path("shape")) == za.shape &&
        jsonInts(doc.path("chunks")) == za.chunks
      // write-GENERATION check: every same-shape mutation bumps the
      // group's token ([[invalidate]]); a sidecar stamped with an older
      // token (or none, when a token now exists) is stale. This closes
      // the REDIRECTED-sidecar hole — analyze(outDir)/option("statsDir")
      // documents and archive sidecars beside an index can't be deleted
      // by the group's writers, so they verify the token instead.
      val okGen = Option(doc.get("generation")).map(_.asText) ==
        generationOf(store, groupDir)
      if (!okShape || !okGen) None
      else {
        val g = doc.path("block_grids")
        loadBody(doc, dir, jsonNames(g).map(v => v -> jsonInts(g.path(v))).toMap)
      }
    }

  private def loadBody(doc: com.fasterxml.jackson.databind.JsonNode,
                       dir: String, grids: Map[String, Seq[Int]])
      : Option[Loaded] = {
      if (doc.path("storage").asText("inline") == "parquet")
        Some(ParquetStats(s"$dir/$ParquetName", grids))
      else {
        val byVar = inlineRows(doc).groupBy(_.v)
        val vars = jsonNames(doc.path("vars")).map { v =>
          v -> byVar.getOrElse(v, Nil).map(r => r.key -> r.stat).toMap
        }.toMap
        Some(EagerStats(vars, grids))
      }
    }

  private def jsonNames(n: com.fasterxml.jackson.databind.JsonNode)
      : Seq[String] = {
    val b = Seq.newBuilder[String]
    n.fieldNames().forEachRemaining(b += _)
    b.result()
  }

  /** The rows of an inline document's `vars`, in document order. */
  private def inlineRows(doc: com.fasterxml.jackson.databind.JsonNode)
      : Seq[StatRow] = {
    val vn = doc.path("vars")
    jsonNames(vn).flatMap { v =>
      val per = vn.path(v)
      jsonNames(per).map { key =>
        val a = per.path(key)
        StatRow(v, key, a.get(0).asLong(), a.get(1).asLong(),
          a.get(2).asLong(), a.get(3).asLong(), a.get(4).asLong(),
          a.get(5).asLong())
      }
    }
  }

  private def jsonInts(n: com.fasterxml.jackson.databind.JsonNode): Seq[Int] = {
    val b = Seq.newBuilder[Int]
    n.forEach(e => b += e.asInt())
    b.result()
  }

  /** Best-effort sidecar delete — writers that overwrite chunk objects of
    * an existing same-shape grid call this first. Deleting the discovery
    * document disables any parquet side table too. The call ALSO bumps
    * the group's write-generation token: sidecars living elsewhere
    * (analyze's `outDir`, `option("statsDir")`, an archive index dir)
    * cannot be deleted from here, so [[load]] verifies the token they
    * were stamped with instead — a same-shape rewrite can never serve
    * stale zone maps from a redirected document. */
  def invalidate(groupDir: String): Unit = {
    val bs = ByteStore.current
    val p = s"$groupDir/$FileName"
    if (bs.exists(p)) bs.delete(p)
    bs.write(s"$groupDir/$GenFileName",
      java.util.UUID.randomUUID().toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The group's current write-generation token, if any (absent on
    * groups no graft writer has mutated). */
  private def generationOf(store: ByteStore,
                           groupDir: String): Option[String] =
    scala.util.Try(store.readIfExists(s"$groupDir/$GenFileName")
        .map(b => new String(b, java.nio.charset.StandardCharsets.UTF_8)))
      .toOption.flatten

  /** ANALYZE: compute the sidecar for an existing group in one
    * distributed pass — one task per planned chunk pack, each chunk
    * decoded and folded inside the task. `format = "json"` (default)
    * inlines the rows in the discovery document and refuses loudly past
    * `maxInlineRows`; `format = "parquet"` writes them straight from the
    * tasks to the distributed side table.
    * Writes into `outDir` (default: the group itself; point it elsewhere
    * for read-only stores) and returns the document path. Re-running
    * replaces the sidecar. */
  def analyze(spark: SparkSession, groupDir: String,
              outDir: Option[String] = None,
              vars: Option[Seq[String]] = None,
              format: String = "json",
              maxInlineRows: Long = MaxInlineStatRows): String = {
    val meta = ZarrTable.open(groupDir, vars)
    analyzeMeta(spark, meta, outDir.getOrElse(groupDir), format,
      maxInlineRows = maxInlineRows)
  }

  /** [[analyze]] for an archive directory opened through its persisted
    * index: the sidecar lands beside the index (the archive itself may be
    * read-only), where [[ZarrTable.openArchive]] looks for it. */
  def analyzeArchive(spark: SparkSession, dir: String,
                     concatDim: String = "t",
                     indexDir: Option[String] = None,
                     indexFormat: String = "json",
                     format: String = "json"): String = {
    val meta = ZarrTable.openArchive(dir, concatDim, indexDir, indexFormat)
    analyzeMeta(spark, meta, indexDir.getOrElse(dir), format)
  }

  /** Refresh a shape-stale sidecar after a dim-0 APPEND by re-folding
    * ONLY the chunks at or beyond the old extent — the daily-granule
    * archive shape, where a full re-ANALYZE is O(archive) per append.
    * Applies when the carried doc is inline, same chunk grid, same
    * trailing shape, same generation, and strictly shorter on dim 0;
    * rows of chunks fully inside the old extent carry over verbatim
    * (a possibly half-full boundary chunk re-folds — the cutoff floors
    * to its chunk index). Returns false when not splice-eligible (the
    * caller falls back to the full [[analyzeMeta]]). */
  private[zarr] def analyzeAppendedRefresh(spark: SparkSession,
                                           meta: ZarrGroupMeta,
                                           outDir: String,
                                           format: String): Boolean = {
    if (format != "json") return false
    val bs = ByteStore.current
    val docOpt = bs.readIfExists(s"$outDir/$FileName")
      .flatMap(b => scala.util.Try(mapper.readTree(b)).toOption)
    val doc = docOpt.getOrElse(return false)
    val za = meta.za
    val ok = doc.path("graft_stats_format").asInt(-1) == 1 &&
      doc.path("storage").asText("inline") == "inline" &&
      jsonInts(doc.path("chunks")) == za.chunks && {
        val oldShape = jsonInts(doc.path("shape"))
        oldShape.length == za.shape.length &&
          oldShape.tail == za.shape.tail &&
          oldShape.headOption.exists(h => h > 0 && h < za.shape.head)
      } &&
      Option(doc.get("generation")).map(_.asText) ==
        generationOf(bs, meta.groupDir) &&
      doc.path("vars").isObject &&
      // the carried rows must cover exactly this meta's variables (a
      // vars-filtered analyze over a doc with more would orphan rows;
      // fewer would leave silent gaps)
      jsonNames(doc.path("vars")).toSet == meta.dataVars.toSet
    if (!ok) return false
    val c0 = jsonInts(doc.path("shape")).head / za.chunks.head
    analyzeMeta(spark, meta, outDir, format,
      keep = _.head >= c0, carry = rowsBefore(inlineRows(doc), c0))
    true
  }

  /** The rows an append that rewrites dim-0 chunks from `c0` on leaves
    * valid: those of chunks strictly before it (a half-full boundary
    * chunk re-folds; block rows ride with their chunk). */
  private[sources] def rowsBefore(rows: Seq[StatRow], c0: Int): Seq[StatRow] =
    rows.filter(_.key.takeWhile(c => c != '.' && c != '#').toInt < c0)

  private[zarr] def analyzeMeta(spark: SparkSession, meta: ZarrGroupMeta,
                                outDir: String,
                                format: String = "json",
                                keep: Seq[Int] => Boolean = _ => true,
                                carry: Seq[StatRow] = Nil,
                                maxInlineRows: Long = MaxInlineStatRows)
      : String = {
    require(format == "json" || format == "parquet",
      s"stats format must be json or parquet, got $format")
    val arrays = meta.dataVars.map(v => v -> meta.varMeta(v))
    if (format == "json") {
      val bound = inlineRowBound(arrays.map(_._2), meta.v3)
      require(bound <= maxInlineRows,
        s"inline stats doc for ${meta.groupDir} would hold up to $bound " +
          s"rows (budget $maxInlineRows) — a driver-resident document " +
          "this large is not metadata-sized; ANALYZE with " +
          "format = \"parquet\" (the distributed side table plans " +
          "through a broadcast key join and prunes identically)")
    }
    val required = ZarrTable.schemaFor(meta)
    val shared = ZarrScan.sharedState(meta, required, Array.empty, None)
    val parts = ZarrScan.plannedPartitions(meta, Array.empty, Array.empty,
      required, dim0Range = None)
    // task-closure values; the unfiltered cursor decodes each chunk's
    // variables in meta.dataVars order
    val (za, vars, keepF) = (meta.za, meta.dataVars, keep)
    val grids = arrays.map { case (_, a) => blockGrid(a, meta.v3) }
    import spark.implicits._
    val rows = spark.sparkContext
      .parallelize(parts.toSeq, math.max(1, parts.length))
      .flatMap { part =>
        val chunks = part match {
          case pk: ZarrPackedPartition => pk.chunks
          case single: ZarrInputPartition => Seq(single)
          case other => throw new IllegalStateException(s"$other")
        }
        chunks.withFilter(cp => keepF(cp.key)).flatMap { cp =>
          chunkRows(za, cp.key, vars, grids,
            new ChunkCursor(shared, cp, None).decoded.toArray)
        }
      }.toDS()
    // json fits its budget (checked above); no bound fits -1
    writeSidecar(meta.groupDir, outDir, arrays, meta.v3, rows, carry,
      budget = if (format == "json") maxInlineRows else -1L)
  }

  /** The moment fold: add cell value `x` to the six slots
    * `m(at until at + 6)` = `[cells, nan, min, max, sum, sumsq]` (counts
    * exact as doubles; min/max start as NaN, see [[slots]]). */
  private def fold(m: Array[Double], at: Int, x: Double): Unit = {
    m(at) += 1.0
    if (x.isNaN) m(at + 1) += 1.0
    else {
      val first = m(at) - m(at + 1) == 1.0
      if (first || java.lang.Double.compare(x, m(at + 2)) < 0) m(at + 2) = x
      if (first || java.lang.Double.compare(x, m(at + 3)) > 0) m(at + 3) = x
      m(at + 4) += x
      m(at + 5) += x * x
    }
  }

  /** `n` empty moment slots for [[fold]]. */
  private def slots(n: Int): Array[Double] = {
    val m = new Array[Double](6 * n)
    var i = 0
    while (i < n) { m(6 * i + 2) = Double.NaN; m(6 * i + 3) = Double.NaN; i += 1 }
    m
  }

  private def row(v: String, key: String, m: Array[Double], at: Int): StatRow =
    StatRow(v, key, m(at).toLong, m(at + 1).toLong,
      java.lang.Double.doubleToRawLongBits(m(at + 2)),
      java.lang.Double.doubleToRawLongBits(m(at + 3)),
      java.lang.Double.doubleToRawLongBits(m(at + 4)),
      java.lang.Double.doubleToRawLongBits(m(at + 5)))

  /** A variable's block grid (the inner block shape), the rule every
    * producer and [[inlineRowBound]] follow: the shard's inner chunks,
    * else virtual strips for a large plain chunk outside v3 (the reader
    * strip-skips v2 and refs tables only), else none. */
  private[sources] def blockGrid(za: ZarrArray,
                                 v3: Boolean): Option[Seq[Int]] =
    za.codec match {
      case sh: graft.sources.ZarrSource.Shard => Some(sh.inner)
      case _ if v3 => None
      case _ => virtualGrid(za.chunks)
    }

  /** The stat rows of one assembled chunk: `data(i)` is variable
    * `vars(i)`'s chunk-shaped buffer and `grids(i)` its [[blockGrid]];
    * `za` gives the grid geometry whose in-bounds cells are folded. */
  private[sources] def chunkRows(za: ZarrArray, key: Seq[Int],
                                 vars: Seq[String],
                                 grids: Seq[Option[Seq[Int]]],
                                 data: Array[Array[Double]]): Seq[StatRow] = {
    val nv = vars.length
    val cStride = za.chunks.scanRight(1)(_ * _).tail
    // per variable: its block count (0 without a grid) and, for each dim
    // its grid splits, (chunk stride, chunk extent, block extent, block
    // stride) — what maps a flat in-chunk offset to a block ordinal
    val nBlocks = new Array[Int](nv)
    val split = new Array[Array[Int]](nv)
    grids.zipWithIndex.foreach { case (g, i) =>
      g.foreach { inner =>
        val bGrid = za.chunks.zip(inner).map { case (c, b) => c / b }
        val bStride = bGrid.scanRight(1)(_ * _).tail
        nBlocks(i) = bGrid.product
        split(i) = bGrid.indices.filter(bGrid(_) > 1).flatMap(k =>
          Seq(cStride(k), za.chunks(k), inner(k), bStride(k))).toArray
      }
    }
    val m = slots(nv)
    val bm = nBlocks.map(slots)
    graft.sources.ZarrSource.foreachCell(za, key) { (off, _) =>
      var i = 0
      while (i < nv) {
        val x = data(i)(off)
        fold(m, 6 * i, x)
        if (nBlocks(i) > 0) {
          val s = split(i)
          var ord = 0
          var q = 0
          while (q < s.length) {
            ord += off / s(q) % s(q + 1) / s(q + 2) * s(q + 3)
            q += 4
          }
          fold(bm(i), 6 * ord, x)
        }
        i += 1
      }
    }
    val k = key.mkString(".")
    vars.indices.flatMap { i =>
      row(vars(i), k, m, 6 * i) +: (0 until nBlocks(i))
        .filter(b => bm(i)(6 * b) > 0.0)
        .map(b => row(vars(i), s"$k#$b", bm(i), 6 * b))
    }
  }

  /** Write the sidecar of `arrays` (the group's data variables) into
    * `outDir` from its stat rows: `carry` (rows kept from an earlier
    * sidecar) and the lazy `rows`, whose job this runs. Inline while
    * [[inlineRowBound]] fits `budget`, else the parquet side table.
    * Returns the document path. */
  private[graft] def writeSidecar(groupDir: String, outDir: String,
                                  arrays: Seq[(String, ZarrArray)],
                                  v3: Boolean,
                                  rows: Dataset[StatRow],
                                  carry: Seq[StatRow] = Nil,
                                  budget: Long = MaxInlineStatRows): String = {
    val bs = ByteStore.current
    // the token is read BEFORE the rows' job runs: a writer that
    // invalidates and rewrites the group mid-pass bumps it, so rows folded
    // over torn data carry the older token and load rejects them
    val generation = generationOf(bs, groupDir)
    val za = arrays.head._2
    val root = mapper.createObjectNode()
    root.put("graft_stats_format", 1)
    val sh = root.putArray("shape"); za.shape.foreach(sh.add)
    val ch = root.putArray("chunks"); za.chunks.foreach(ch.add)
    generation.foreach(root.put("generation", _))
    val strips = arrays.flatMap { case (v, a) =>
      if (a.codec.isInstanceOf[graft.sources.ZarrSource.Shard]) None
      else blockGrid(a, v3).map(v -> _)
    }
    if (strips.nonEmpty) {
      val bg = root.putObject("block_grids")
      strips.foreach { case (v, g) => val a = bg.putArray(v); g.foreach(a.add) }
    }
    if (inlineRowBound(arrays.map(_._2), v3) <= budget) {
      val vn = root.putObject("vars")
      val perVar = arrays.map { case (v, _) => v -> vn.putObject(v) }.toMap
      (carry ++ rows.collect()).foreach { r =>
        val a = perVar(r.v).putArray(r.key)
        a.add(r.cells); a.add(r.nan); a.add(r.minBits); a.add(r.maxBits)
        a.add(r.sumBits); a.add(r.sumsqBits)
      }
    } else {
      root.put("storage", "parquet")
      val spark = rows.sparkSession
      import spark.implicits._
      carry.toDS().union(rows).toDF(ParquetColumns: _*)
        .write.mode("overwrite").parquet(s"$outDir/$ParquetName")
    }
    val path = s"$outDir/$FileName"
    bs.mkdirs(outDir)
    bs.write(path, mapper.writeValueAsString(root)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    path
  }

  /** Ceiling on the rows (chunk rows + sub-chunk strip rows) an INLINE
    * json sidecar may hold. The inline doc is driver-resident on every
    * load, so it must stay metadata-sized: 2^20 rows is ~100 MB of json
    * — already generous — while a 10^7-chunk archive × tens of strips
    * per chunk would be a 10^8-row driver document. Past the budget the
    * json form DECLINES LOUDLY and the caller uses the distributed
    * parquet side table (`format = "parquet"`), which plans through a
    * broadcast join of candidate keys and never materializes the
    * archive's stats on the driver. */
  val MaxInlineStatRows: Long = 1L << 20

  /** Upper bound on the rows a sidecar of `arrays` holds: one per
    * (variable, chunk) plus one per (variable, chunk, block of its
    * [[blockGrid]]). A bound, not a count — unpopulated blocks emit
    * nothing — so the budget choice is conservative and needs no data
    * pass. */
  private[zarr] def inlineRowBound(arrays: Seq[ZarrArray],
                                   v3: Boolean): Long =
    arrays.map { za =>
      val nBlocks = blockGrid(za, v3).map(g =>
        za.chunks.zip(g).map { case (c, i) => (c / i).toLong }.product)
      za.chunkGrid.map(_.toLong).product * (1L + nBlocks.getOrElse(0L))
    }.sum

  /** Chunks below this many cells keep chunk-granular stats only — a
    * virtual strip grid on small chunks would bloat the sidecar for
    * pruning the zone maps already provide. */
  val MinVirtualChunkCells: Long = 1L << 16

  /** Most strips a virtual grid splits a large chunk into. */
  val MaxVirtualStrips: Int = 64

  /** The virtual inner-block grid of a LARGE plain-codec chunk: the
    * slowest non-unit chunk dim splits into the most strips
    * (≤ [[MaxVirtualStrips]]) its extent divides evenly. Splitting only
    * that dim keeps every block a CONTIGUOUS flat range of the decoded
    * buffer — the property [[graft.sources.ZarrSource
    * .decodeChunkSelective]] needs to skip excluded strips' element
    * conversion (and corruption proofs need to target byte ranges).
    * None when the chunk is small or no dim splits. */
  def virtualGrid(chunks: Seq[Int]): Option[Seq[Int]] = {
    if (chunks.map(_.toLong).product < MinVirtualChunkCells) return None
    val k = chunks.indexWhere(_ > 1)
    if (k < 0) return None
    val ext = chunks(k)
    val g = (MaxVirtualStrips to 2 by -1).find(ext % _ == 0)
    g.map(s => chunks.updated(k, ext / s))
  }

  /** A value provably OUTSIDE the packed interval set — the fill for
    * inner chunks a selective shard decode skips: the cursor re-evaluates
    * the predicate per cell, so skipped cells must carry a value that
    * FAILS it. Exists whenever some block was excluded (an all-covering
    * set never excludes anything); when the set does cover every double
    * the fallback return is never consulted. */
  def failValueOutside(packed: Array[Double]): Double = {
    if (packed.length == 0) return 0.0 // never-true filter: all values fail
    // below the first interval
    if (packed(0) > Double.NegativeInfinity) return Double.NegativeInfinity
    // above the last (an interval reaching +Inf also covers NaN)
    if (packed(packed.length - 1) < Double.PositiveInfinity)
      return Double.PositiveInfinity
    // a representable gap between two intervals
    var i = 1
    while (i + 1 < packed.length) {
      val cand = math.nextUp(packed(i))
      if (cand < packed(i + 1)) return cand
      i += 2
    }
    0.0 // set covers every double: nothing is ever excluded
  }

  /** Could SOME cell of a chunk with these stats satisfy the packed
    * interval set? (false ⇒ the chunk is safely prunable). The possible
    * values are `[min, max]` (when any non-NaN cell exists) plus NaN
    * (when nanCount > 0) — NaN sits above +Inf in Spark's ordering, so
    * it matches exactly an interval unbounded above. */
  /** Global guarded (count, min, max) of variable `v` from a
    * document-INLINED sidecar — the driver-resident [[EagerStats]] form
    * only. The distributed parquet side table keeps the pushed-aggregate
    * path: folding an archive-sized stat table on the driver is exactly
    * what [[ParquetStats]] exists to avoid, while the inline doc is
    * already resident, so summing it costs zero Spark jobs. None unless
    * a chunk-level stat row exists for EVERY chunk of the variable's
    * grid — partial coverage would silently misreport the extremes and
    * the count. The count is the NON-NaN cell population, matching the
    * `v <= +Inf` guard of the quantile/statistics folds; min/max are
    * NaN when every cell is NaN (the caller's n == 0 branch). */
  def inlineGlobal(meta: ZarrGroupMeta, v: String)
      : Option[(Long, Double, Double)] = meta.stats match {
    case Some(e: EagerStats) =>
      for {
        za <- meta.varMeta.get(v)
        m <- e.vars.get(v)
        nChunks = za.chunkGrid.map(_.toLong).product
        chunkRows = m.iterator.collect {
          case (k, st) if !k.contains('#') => st
        }.toSeq
        if chunkRows.length.toLong == nChunks
      } yield {
        var n = 0L
        var lo = Double.NaN
        var hi = Double.NaN
        chunkRows.foreach { st =>
          n += st.finite
          if (st.finite > 0) {
            if (lo.isNaN || java.lang.Double.compare(st.min, lo) < 0)
              lo = st.min
            if (hi.isNaN || java.lang.Double.compare(st.max, hi) > 0)
              hi = st.max
          }
        }
        (n, lo, hi)
      }
    case _ => None
  }

  def admits(st: VarStat, packed: Array[Double]): Boolean = {
    if (packed.length == 0) return false
    val nanIn = packed(packed.length - 1) == Double.PositiveInfinity
    if (st.nan > 0 && nanIn) return true
    if (st.finite == 0) return st.nan > 0 && nanIn
    // disjoint ascending intervals: candidate = last interval with
    // lo <= max; it intersects [min, max] iff its hi >= min
    var i = packed.length - 2
    while (i >= 0 && packed(i) > st.max) i -= 2
    i >= 0 && packed(i + 1) >= st.min
  }

  /** Does EVERY cell of a chunk with these stats satisfy the packed
    * interval set? (true ⇒ a fully-covered chunk can answer from the
    * sidecar without reading). Walks the sorted intervals across
    * `[min, max]` tolerating ulp-adjacent pieces (complement splitting
    * produces those), and demands NaN coverage when NaN cells exist. */
  def fullyAdmits(st: VarStat, packed: Array[Double]): Boolean = {
    if (packed.length == 0) return false
    val nanIn = packed(packed.length - 1) == Double.PositiveInfinity
    if (st.nan > 0 && !nanIn) return false
    if (st.finite == 0) return true // NaN-only chunk, NaN covered above
    var i = 0
    while (i < packed.length && !ZarrScan.cellIn(st.min, packed(i), packed(i + 1)))
      i += 2
    if (i >= packed.length) return false
    var hi = packed(i + 1)
    while (ZarrScan.sqlCmp(hi, st.max) < 0) {
      i += 2
      if (i >= packed.length || packed(i) > math.nextUp(hi)) return false
      hi = packed(i + 1)
    }
    true
  }
}
