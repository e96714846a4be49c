package graft.sources.zarr

import graft.sources.{ByteStore, KerchunkSource, ZarrSource, ZarrV3Source}
import graft.sources.KerchunkSource.{Ref, Refs}
import graft.sources.ZarrSource.ZarrArray

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** DataSourceV2 Zarr connector — `spark.read.format("zarr").load(group)`
  * and `df.write.format("zarr").option("dims", "t,y,x").save(group)`:
  * the relational face of [[ZarrSource]], with the two scan optimizations
  * the DataFrame read path cannot express over a hand-built RDD:
  *
  *  - **Chunk pruning from pushed dimension predicates.** A filter on a
  *    dimension column (`t === 0.5`, `y >= 40 && y < 60`, `t.isin(...)`,
  *    same-dim `||`, `=!=`) is converted to per-dimension sets of
  *    coordinate intervals on the driver; only chunk keys whose
  *    coordinate span intersects some interval of every dim become input
  *    partitions. At
  *    100 TB this is the difference between "scan two chunk files" and
  *    "scan the archive" — the same read elision the reference gets from
  *    xarray's lazy label indexing (`select_subset`, core/select.py), but
  *    driven by Catalyst so ANY relational query over the cube benefits,
  *    not just calls through the subset API. Pruning needs a monotone
  *    coordinate; non-monotone dims keep all their chunks (correct, just
  *    unpruned), and Spark re-evaluates every pushed predicate post-scan,
  *    so pruning can never change results — only skip whole chunks that
  *    provably contain no matching cell.
  *  - **Variable-level column pruning.** Only the data variables named in
  *    the required schema are fetched and decoded — a 2-column projection
  *    over a 40-variable group reads 1/40th of the bytes (the ReadSchema
  *    discipline parquet scans get for free).
  *
  * Beyond those two, the scan engine carries: metadata-only AND partial
  * aggregate pushdown, limit and top-n pushdown (trailing-slab planning),
  * runtime (DPP) filtering, post-pruning statistics, vectorized
  * ColumnarBatch output, size-targeted chunk packing with one coalesced
  * multi-range fetch per refs-backed task, `option("vars", "a,b")` to
  * open one grid of a mixed-grid group, SQL DELETE as trailing-slice
  * truncation (through [[GraftCatalog]]), and a streaming micro-batch
  * face. Scan-level state (coordinates included) lives in the reader
  * factory — Spark's task-binary broadcast — so input partitions stay
  * O(chunk key) at any archive size. All byte IO goes through a
  * [[ByteStore]] VALUE captured at planning time, so the same scan reads
  * local paths, object-store URLs, and http(s) archives.
  */
final class ZarrTableProvider extends TableProvider with DataSourceRegister
    with CreatableRelationProvider {

  // Spark calls inferSchema then getTable on the SAME provider instance;
  // without this cache every spark.read.format("zarr").load() would read
  // the group metadata and fully materialize the coordinate arrays TWICE
  // on the driver — doubled round trips over http/object-store groups.
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, ZarrGroupMeta]()

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("zarr needs a path option " +
        "(spark.read.format(\"zarr\").load(groupDir) / .save(groupDir))"))

  /** None when no group exists at the path (a write target).
    * `option("vars", "a,b")` restricts the table to the named variables
    * and resolves the grid from THEM — the way into one grid of a
    * mixed-grid group the default whole-group resolution rejects. */
  private def metaFor(options: CaseInsensitiveStringMap): Option[ZarrGroupMeta] = {
    val groupDir = pathOf(options)
    val vars = Option(options.get("vars"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // option("statsDir", dir): load the ANALYZE sidecar from a side
    // directory — the read half of analyze(outDir = ...) for read-only
    // stores
    val statsDir = Option(options.get("statsDir"))
    if (!ZarrTableProvider.groupExists(groupDir)) None
    else Some(metaCache.computeIfAbsent(
      groupDir + vars.map("?vars=" + _.mkString(",")).getOrElse("") +
        statsDir.map("?stats=" + _).getOrElse(""),
      _ => ZarrTable.open(groupDir, vars, statsDir)))
  }

  override def shortName(): String = "zarr"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    metaFor(options).map(ZarrTable.schemaFor).getOrElse(new StructType())

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    metaFor(options).map(ZarrTable(_))
      .getOrElse(NoSuchZarrGroup(pathOf(options)))
  }

  override def supportsExternalMetadata(): Boolean = false

  /** The write half of the connector, via Spark's V1 write bridge: the
    * table deliberately does not declare BATCH_WRITE, so
    * `df.write.format("zarr").save(dir)` falls back to this
    * [[CreatableRelationProvider]]. That bridge — not a V2 BatchWrite —
    * is the right hook here because assigning a row to its chunk is a
    * data-dependent coordinate lookup that V2 distribution contracts
    * cannot express, while the bridge hands over the whole DataFrame and
    * lets [[ZarrSource.writeCubeVars]] own its proven one-shuffle,
    * one-object-per-chunk layout (every variable of a chunk written by
    * the task that owns the chunk).
    *
    * Options: `dims` (required, ordered dimension columns, e.g.
    * "t,y,x"); `chunks` (per-dim extents, default one chunk per dim).
    * Every non-dim column becomes a data variable; everything is cast to
    * double (the cube cell contract). Coordinates are the sorted
    * distinct dim values (driver-sized, like every cube writer here).
    * Modes: Overwrite replaces the group; ErrorIfExists/Ignore behave as
    * named; Append on an existing group is slice surgery and points the
    * caller at [[graft.operators.TimeSliceOps]] instead of guessing.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    import org.apache.spark.sql.functions.col
    val groupDir = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "zarr write needs a path (.save(groupDir))"))
    val exists = ZarrTableProvider.groupExists(groupDir)
    val proceed = mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"$groupDir: zarr group already exists (SaveMode.ErrorIfExists); " +
            "use mode(\"overwrite\")")
      case SaveMode.Ignore if exists => false
      case SaveMode.Append if exists =>
        throw new IllegalArgumentException(
          s"$groupDir: appending to an existing group is slice surgery — " +
            "use ZarrSource.appendCube / TimeSliceOps for dimension-aware " +
            "appends; df.write supports overwrite of whole groups")
      case _ => true
    }
    if (proceed) {
      val dimNames = parameters.get("dims")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(throw new IllegalArgumentException(
          "zarr write needs .option(\"dims\", \"t,y,x\") naming the " +
            "dimension columns in order"))
      val missing = dimNames.filterNot(data.columns.contains)
      require(missing.isEmpty,
        s"dims ${missing.mkString(", ")} not in ${data.columns.mkString(", ")}")
      val varNames = data.columns.filterNot(dimNames.contains).toSeq
      require(varNames.nonEmpty,
        s"$groupDir: no data variable columns besides dims " +
          dimNames.mkString(", "))
      val dims: Seq[(String, Array[Double])] =
        ZarrTableProvider.deriveAxes(data, dimNames)
      val chunks = parameters.get("chunks")
        .map(_.split(",").map(_.trim.toInt).toSeq)
        .getOrElse(dims.map(_._2.length))
      require(chunks.length == dimNames.length && chunks.forall(_ > 0),
        s"chunks must list one positive extent per dim (${dimNames.length})")
      if (exists) { // Overwrite: drop stale objects of the old grid first
        val bs = ByteStore.current
        bs.walkFiles(groupDir).foreach(rel => bs.delete(s"$groupDir/$rel"))
      }
      val casted = data.select(
        (dimNames ++ varNames).map(c => col(c).cast("double").as(c)): _*)
      // option("stats", "true"): fold the ANALYZE sidecar out of the
      // write tasks for free — the cube is born with its zone maps
      ZarrSource.writeCubeVars(casted, groupDir, varNames, dims, chunks,
        stats = parameters.get("stats").exists(_.toBoolean))
    }
    val written = ZarrTable.open(groupDir)
    val ctx = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override val schema: StructType = ZarrTable.schemaFor(written)
    }
  }
}

object ZarrTableProvider {
  /** Coordinate axes of a cube write: the sorted distinct values of every
    * dimension column, derived in ONE aggregation pass over the input —
    * `collect_set` per dim folds map-side, so a 100 TB write pays one
    * data scan for ALL axes instead of one distinct-shuffle per dim (the
    * collected sets are axis-sized, i.e. driver metadata, like every
    * cube writer here; the sort happens on the driver). */
  private[graft] def deriveAxes(data: DataFrame, dimNames: Seq[String])
      : Seq[(String, Array[Double])] = {
    import org.apache.spark.sql.functions.{col, collect_set, lit, sum, when}
    // normalize -0.0 to 0.0 BEFORE collecting: collect_set dedups with
    // boxed-Double equality, which keeps -0.0 and 0.0 as two equal-
    // comparing axis values (the old distinct() path merged them through
    // UnsafeRow grouping normalization)
    def norm(d: String) = {
      val c = col(d).cast("double")
      when(c === lit(0.0), lit(0.0)).otherwise(c)
    }
    // null dim values are counted IN THE SAME PASS and fail loudly:
    // collect_set silently drops nulls, so without the count a row with a
    // null dim would simply vanish from the derived axis and the cube
    // write would proceed on a grid missing that row (the old
    // distinct()+getDouble path failed loudly; a round-14 advisory hit)
    val row = data.select(
      dimNames.map(d => collect_set(norm(d)).as(d)) ++
        dimNames.map(d =>
          sum(col(d).isNull.cast("long")).as(s"__nulls_$d")): _*).head()
    dimNames.zipWithIndex.map { case (d, i) =>
      val nulls = if (row.isNullAt(dimNames.length + i)) 0L
        else row.getLong(dimNames.length + i)
      require(nulls == 0L,
        s"dim $d has $nulls null value(s) — dimension columns of a cube " +
          "write must be non-null")
      val axis = row.getSeq[Double](i).toArray
      require(axis.nonEmpty, s"dim $d has no values to write")
      java.util.Arrays.sort(axis)
      d -> axis
    }
  }

  private[zarr] def groupExists(groupDir: String): Boolean = {
    val bs = ByteStore.current
    bs.exists(s"$groupDir/.zgroup") || bs.exists(s"$groupDir/.zmetadata") ||
      bs.exists(s"$groupDir/zarr.json")
  }
}

/** Placeholder table for a path with no group yet: schema is empty and
  * any scan attempt says exactly what is wrong. Spark's save() path asks
  * for the table first — returning this (with no BATCH_WRITE capability)
  * routes the write to the V1 bridge above. */
final case class NoSuchZarrGroup(groupDir: String) extends Table with SupportsRead {
  override def name(): String = groupDir
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new IllegalArgumentException(
      s"$groupDir: no zarr group here (no .zgroup/.zmetadata/zarr.json); " +
        "to create one, df.write.format(\"zarr\").option(\"dims\", ...)" +
        ".save(path)")
}

/** Planning-time view of one group: the shared grid array metadata, the
  * data variable names, and the (driver-sized) coordinate arrays.
  * `v3` selects the Zarr v3 chunk-key encoding + codec chain (incl.
  * sharding — the shard object is the partition unit, as in
  * [[graft.sources.ZarrV3Source.readCube]]). When `refs` is set the
  * table is VIRTUAL — chunk bytes come from kerchunk byte-range
  * references into the original granule files (NetCDF/HDF5/GeoTIFF/
  * refs-JSON), and each input partition carries only its OWN chunk's
  * refs, never the whole reference map. */
final case class ZarrGroupMeta(groupDir: String, za: ZarrArray,
                               dataVars: Seq[String],
                               varMeta: Map[String, ZarrArray],
                               coords: Seq[Array[Double]],
                               store: ByteStore,
                               v3: Boolean = false,
                               refs: Option[KerchunkSource.RefLookup] = None,
                               // per-chunk value statistics (ANALYZE
                               // sidecar) — planning-time only: value-
                               // predicate chunk pruning + zero-IO
                               // aggregate stat rows
                               stats: Option[ChunkStats.Loaded] = None)

final case class ZarrTable(meta: ZarrGroupMeta) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  override def name(): String = meta.groupDir
  override def schema(): StructType = ZarrTable.schemaFor(meta)
  override def capabilities(): java.util.Set[TableCapability] =
    if (meta.v3 || meta.refs.nonEmpty)
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    else
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(meta,
      Option(options.get("maxSlicesPerTrigger")).map(_.toLong))

  // ---- SQL DELETE as slice truncation: `DELETE FROM gcat.`cube.zarr`
  // WHERE t >= 2.0` (through GraftCatalog) drops the trailing dim-0
  // slices in place — metadata-sized work, the maintenance op every
  // rolling time-series archive runs. Supported exactly when the WHERE
  // constrains ONLY the lead dimension and matches a TRAILING run of its
  // (monotone) coordinates: a zarr grid is dense, so deleting interior
  // cells or partial slices has no storage form — those decline and
  // Spark reports the table cannot delete that predicate. A WHERE that
  // matches nothing is a no-op, not an error.
  private def truncationOf(filters: Array[Filter]): Option[Int] = {
    if (meta.v3 || meta.refs.nonEmpty) return None // v2 in-place op only
    if (filters.isEmpty) return None // TRUNCATE/DELETE-all: overwrite instead
    if (!filters.forall(f => ZarrScan.rect(meta, f).isDefined)) return None
    val ivs = ZarrScan.rectOf(meta, filters)
    if (ivs.zipWithIndex.exists { case (s, k) => k != 0 && s != ZarrScan.Full })
      return None // a non-lead dim is constrained: partial-slice delete
    val c = meta.coords.head
    if (!ZarrScan.monotone(c)) return None
    val packed = ZarrScan.packIvs(ivs)
    val matched = c.map(v => ZarrScan.cellInPacked(v, packed(0)))
    val first = matched.indexOf(true)
    if (first < 0) Some(c.length) // nothing matches: no-op delete
    else if (first == 0) None // everything matches: that is an overwrite
    else if (matched.drop(first).forall(identity)) Some(first)
    else None // interior slices matched: not a trailing truncation
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    truncationOf(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val newLen = truncationOf(filters).getOrElse(
      throw new IllegalArgumentException(
        s"${meta.groupDir}: DELETE supports trailing ${meta.za.dims.head}-" +
          "slice truncation only (a dense grid cannot drop interior cells); " +
          "rewrite the cube for anything else"))
    if (newLen < meta.coords.head.length)
      ZarrSource.truncateDim0(meta.groupDir, newLen)
  }
}

object ZarrTable {
  /** Resolve the group: data variables are the arrays sharing the dims of
    * the highest-rank array — or of `only.head` when a variable subset is
    * named (the mixed-grid escape hatch) — and same-named 1-D arrays are
    * coordinates. Detects the format version from the group documents: a
    * `zarr.json` routes through [[ZarrV3Source]] (incl. sharded arrays —
    * the shard is the partition unit), anything else through the v2
    * [[ZarrSource]]. */
  def open(groupDir: String, only: Option[Seq[String]] = None,
           statsDir: Option[String] = None): ZarrGroupMeta = {
    val store = ByteStore.current
    val v3 = store.exists(s"$groupDir/zarr.json")
    def listArrays() =
      if (v3) ZarrV3Source.listArrays(groupDir) else ZarrSource.listArrays(groupDir)
    def openArray(name: String) =
      if (v3) ZarrV3Source.openArray(s"$groupDir/$name")
      else ZarrSource.openArray(s"$groupDir/$name")
    def readAll(name: String, za: ZarrArray) =
      if (v3) ZarrV3Source.readAll(s"$groupDir/$name", za)
      else ZarrSource.readAll(s"$groupDir/$name", za)
    val names =
      try listArrays()
      catch {
        case e: UnsupportedOperationException
            if e.getMessage != null && e.getMessage.contains("http") =>
          // the group is web-hosted and unconsolidated: listing is
          // impossible over http(s), so say what WOULD make it open
          throw new IllegalArgumentException(
            s"$groupDir: an http(s)-hosted group cannot be listed — " +
              "consolidate its metadata (.zmetadata for v2, consolidated " +
              "zarr.json for v3) to open it over the web", e)
      }
    val m = resolve(groupDir, names, openArray, readAll, store, v3,
      refs = None, only)
    m.copy(stats =
      ChunkStats.load(store, statsDir.getOrElse(groupDir), m.za, groupDir))
  }

  /** Resolve a VIRTUAL group from a kerchunk reference set — the same
    * grid rules as [[open]], with metadata and coordinates served from
    * inline refs and chunk bytes (later, per task) from byte-range refs
    * into the original granules. This is what generalizes DSv2 chunk/
    * variable pruning beyond zarr: any format a kerchunk scanner can
    * index (NetCDF classic, NetCDF-4/HDF5, GeoTIFF, JP2, zarr itself)
    * gets optimizer-driven read elision through one code path. */
  def openRefs(refs: Refs, label: String,
               only: Option[Seq[String]] = None): ZarrGroupMeta = {
    val names = KerchunkSource.listArrays(refs)
    require(names.nonEmpty, s"$label: no arrays in reference set")
    resolve(label, names, n => KerchunkSource.openArray(refs, n),
      (n, za) => KerchunkSource.readAll(refs, n, za),
      ByteStore.current, v3 = false,
      refs = Some(KerchunkSource.EagerRefLookup(refs)), only)
  }

  /** [[openRefs]] for reference DOCUMENTS too large for one in-memory
    * map: metadata keys stream in one bounded pass, coordinate-variable
    * chunk refs (1-D — driver-sized by definition) in a second, and the
    * data-chunk refs are NEVER loaded here — the scan resolves exactly
    * the surviving chunks' refs after pruning through a
    * [[KerchunkSource.LazyRefLookup]] streaming pass. Driver memory is
    * O(metadata + coords + surviving chunks), so a pruned query over a
    * 10^8-ref archive plans with the memory of its own answer. */
  def openRefsLazy(jsonPath: String,
                   only: Option[Seq[String]] = None): ZarrGroupMeta = {
    def isMeta(k: String): Boolean =
      k.substring(k.lastIndexOf('/') + 1).startsWith(".z")
    val meta = KerchunkSource.parseSelective(jsonPath, isMeta)
    val names = KerchunkSource.listArrays(meta)
    require(names.nonEmpty, s"$jsonPath: no arrays in reference set")
    // 1-D self-dimensioned arrays are the coordinate candidates; only
    // their chunk refs are pulled into memory
    val oneD = names.filter(n =>
      KerchunkSource.openArray(meta, n).dims == Seq(n)).toSet
    val coordRefs =
      if (oneD.isEmpty) meta
      else Refs(meta.entries ++ KerchunkSource.parseSelective(jsonPath, k =>
        !isMeta(k) && {
          val i = k.indexOf('/')
          i > 0 && oneD.contains(k.substring(0, i))
        }).entries)
    resolve(jsonPath, names, n => KerchunkSource.openArray(meta, n),
      (n, za) => KerchunkSource.readAll(coordRefs, n, za),
      ByteStore.current, v3 = false,
      refs = Some(KerchunkSource.LazyRefLookup(jsonPath)), only)
  }

  /** Open an archive DIRECTORY through its persisted index
    * ([[KerchunkSource.ensureArchiveIndex]] builds/refreshes it first).
    * A json index opens lazily ([[openRefsLazy]]); a parquet index opens
    * with metadata from the small metadata-only doc and data-chunk refs
    * resolved through [[KerchunkSource.ParquetRefLookup]] — the index is
    * a DISTRIBUTED side table, so a 10^8-ref archive plans by joining
    * the pruned chunk-key set against it and collecting only the query's
    * own refs. */
  def openArchive(dir: String, concatDim: String,
                  indexDir: Option[String], indexFormat: String,
                  only: Option[Seq[String]] = None,
                  fingerprint: Boolean = false,
                  stats: Boolean = false): ZarrGroupMeta = {
    val idx = KerchunkSource.ensureArchiveIndex(
      org.apache.spark.sql.SparkSession.active, dir, concatDim, indexDir,
      indexFormat, fingerprint)
    val side = indexDir.getOrElse(dir)
    val m = if (KerchunkSource.manifestFormat(side) == "parquet") {
      val metaRefs = KerchunkSource.parseSelective(idx, _ => true)
      val names = KerchunkSource.listArrays(metaRefs)
      require(names.nonEmpty, s"$idx: no arrays in archive index")
      resolve(idx, names, n => KerchunkSource.openArray(metaRefs, n),
        (n, za) => KerchunkSource.readAll(metaRefs, n, za),
        ByteStore.current, v3 = false,
        refs = Some(KerchunkSource.ParquetRefLookup(
          s"$side/${KerchunkSource.ParquetRefsName}")), only)
    } else openRefsLazy(idx, only)
    // the ANALYZE sidecar of an archive lives beside its index (the
    // archive itself may be read-only). `stats = true` keeps the archive
    // BORN ANALYZED: a missing or stale sidecar (appended granules grow
    // the concat shape, auto-invalidating the old one) triggers the
    // distributed stats pass right here, in the index's own format —
    // the opt-in costs one full data read when and only when the sidecar
    // is out of date.
    val loaded = ChunkStats.load(ByteStore.current, side, m.za, m.groupDir)
    val ensured =
      if (loaded.isDefined || !stats) loaded
      else {
        val spark = org.apache.spark.sql.SparkSession.active
        // parquet manifests keep parquet stats; and an archive whose
        // stat-row bound exceeds the inline budget auto-routes to the
        // side table rather than tripping the budget's loud refusal
        val fmt = if (KerchunkSource.manifestFormat(side) == "parquet" ||
          ChunkStats.inlineRowBound(m.dataVars.map(m.varMeta), m.v3) >
            ChunkStats.MaxInlineStatRows)
          "parquet" else "json"
        // appended granules grow the concat shape: the refresh re-folds
        // ONLY the new granules' chunks and carries the rest verbatim —
        // O(appended), not O(archive). Anything not append-shaped falls
        // back to the full pass.
        if (!ChunkStats.analyzeAppendedRefresh(spark, m, side, fmt))
          ChunkStats.analyzeMeta(spark, m, side, fmt)
        ChunkStats.load(ByteStore.current, side, m.za, m.groupDir)
      }
    m.copy(stats = ensured)
  }

  private def resolve(label: String, names: Seq[String],
                      openArray: String => ZarrArray,
                      readAll: (String, ZarrArray) => Array[Double],
                      store: ByteStore, v3: Boolean,
                      refs: Option[KerchunkSource.RefLookup],
                      only: Option[Seq[String]] = None): ZarrGroupMeta = {
    only.toSeq.flatten.foreach(v => require(names.contains(v),
      s"$label: no array '$v' (have ${names.mkString(", ")})"))
    val metas = names.map(n => n -> openArray(n)).toMap
    val lead = only match {
      case Some(vs) => metas(vs.head)
      case None => metas.values.maxBy(_.shape.length)
    }
    require(lead.shape.length >= 1, s"$label: no data arrays")
    val dataVars = only.getOrElse(names.filter { n =>
      val m = metas(n)
      m.dims == lead.dims && !lead.dims.contains(n)
    }).sorted
    require(dataVars.nonEmpty,
      s"$label: no data variables on grid ${lead.dims.mkString("x")}")
    // whole-group resolution must not silently DROP variables: anything
    // that is neither on the lead grid nor a coordinate (its own 1-D dim,
    // or a dim of the grid) makes the group mixed-grid — loud, with the
    // escape hatch named
    if (only.isEmpty) {
      val offGrid = names.filterNot(n => dataVars.contains(n) ||
        lead.dims.contains(n) || metas(n).dims == Seq(n))
      require(offGrid.isEmpty,
        s"$label: ${offGrid.mkString(", ")} live on a different grid than " +
          s"${lead.dims.mkString("x")} — mixed-grid groups are not one " +
          "relational table; pick one grid's variables with " +
          ".option(\"vars\", \"a,b\")")
    }
    dataVars.foreach { n =>
      val m = metas(n)
      require(m.dims == lead.dims && m.shape == lead.shape &&
        m.chunks == lead.chunks,
        s"$label/$n: dims/shape/chunks ${m.dims}/${m.shape}/${m.chunks} " +
          s"differ from the grid ${lead.dims}/${lead.shape}/${lead.chunks} " +
          "— mixed-grid groups are not one relational table; pick one " +
          "grid's variables with .option(\"vars\", \"a,b\")")
    }
    val coords = lead.dims.zipWithIndex.map { case (dim, k) =>
      metas.get(dim) match {
        case Some(cza) =>
          require(cza.shape == Seq(lead.shape(k)),
            s"$label/$dim: coordinate shape ${cza.shape} != ${lead.shape(k)}")
          readAll(dim, cza)
        case None => Array.tabulate(lead.shape(k))(_.toDouble)
      }
    }
    ZarrGroupMeta(label, metas(dataVars.head), dataVars, metas.view
      .filterKeys(dataVars.contains).toMap, coords, store, v3, refs)
  }

  def schemaFor(meta: ZarrGroupMeta): StructType =
    StructType(meta.za.dims.map(StructField(_, DoubleType, nullable = false)) ++
      meta.dataVars.map(StructField(_, DoubleType, nullable = true)))
}

final class ZarrScanBuilder(meta: ZarrGroupMeta,
                            maxSlicesPerTrigger: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  // partial limit pushdown: plan only enough chunks to cover the limit.
  // Safe because the per-chunk MATCHING cell count is exact driver math
  // (coordinates are resident, the consumed filters are rectangular), so
  // the truncated scan still yields >= min(limit, total matching) rows —
  // Spark re-applies the limit on top. `df.limit(20)` over a 10^7-chunk
  // archive plans one task.
  private var limit: Option[Int] = None
  override def pushLimit(l: Int): Boolean = {
    // the truncated planning below relies on EXACT per-chunk matching
    // cell counts, which are driver math only while every consumed
    // constraint lives on the coordinate grid: a consumed DATA-VARIABLE
    // predicate rejects cells inside the reader, so the count would
    // overestimate and the scan could plan too few chunks — decline, the
    // limit stays Spark-side above an untruncated scan
    if (consumedVarIvs.nonEmpty) return false
    limit = Some(l); true
  }
  override def isPartiallyPushed: Boolean = true

  // partial TOP-N pushdown — `ORDER BY t DESC LIMIT n` is the canonical
  // "latest slices" peek. When the FIRST sort key is a dimension with a
  // monotone coordinate, chunk slabs along that dim enumerate from the
  // requested end and planning stops at the first slab boundary past n
  // matching cells: a latest-day query over a 10^7-chunk archive plans
  // one time-slab. Cutting at SLAB boundaries (never inside one) keeps
  // every kept row ordered at-or-before every dropped row on the sort
  // key, so the slab superset always contains a valid top-n; Spark
  // re-applies the full sort + limit above the (partial) scan, which
  // also makes the secondary sort keys exact.
  private var topN: Option[(Int, Boolean, Int)] = None // (dim, desc, n)
  // the fold fallback: every sort key a plain scan column -> per-task
  // bounded heap over the full sort tuple (ZarrTopNScan)
  private var topNFold: Option[(Seq[(String, Boolean)], Int)] = None
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder], n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING
    val first = orders.headOption.flatMap { o =>
      ZarrScan.dimName(meta, o.expression()).map { d =>
        val k = meta.za.dims.indexOf(d)
        (k, o.direction() == DESCENDING)
      }
    }.filterNot(_ =>
      // the slab cut counts matching cells from the coordinates alone —
      // unsafe under a consumed data-variable predicate (same reasoning
      // as pushLimit); the bounded-heap fold below stays exact because it
      // ranks only the rows the cursor actually emits
      consumedVarIvs.nonEmpty
    ).filter { case (k, _) =>
      // with secondary sort keys the slab cut must not drop a row TIED on
      // the first key at a slab boundary (the secondary keys could
      // deterministically place it inside the true top-n), so the sort
      // dim's coordinate must be STRICTLY monotone — no duplicate values
      // anywhere. A single-key sort only needs plain monotonicity:
      // boundary ties there are the usual SQL tie nondeterminism.
      if (orders.length > 1) ZarrScan.strictMonotone(meta.coords(k))
      else ZarrScan.monotone(meta.coords(k))
    }
    if (first.isDefined) {
      first.foreach { case (k, desc) => topN = Some((k, desc, n)) }
      true
    } else {
      // no slab cut available (data-variable ordering, non-/non-strictly-
      // monotone coordinate): fold the top-n per task instead — chunks all
      // read, but the exchange carries O(tasks x n) rows, and ordering by
      // the FULL tuple makes dropped rows at worst full-tuple ties
      val cols = orders.toSeq.map { o =>
        (ZarrVarAggScan.aggColumn(meta, o.expression())
          .collect { case ZarrAggCol(nm, None, false, false) => nm },
          o.direction() == DESCENDING)
      }
      if (cols.nonEmpty && cols.forall(_._1.isDefined)) {
        topNFold = Some((cols.map(c => (c._1.get, c._2)), n))
        true
      } else false
    }
  }

  private var consumed: Array[Filter] = Array.empty
  private var unhandled: Array[Filter] = Array.empty
  // the consumed filters' data-variable constraints (empty when every
  // consumed predicate is a coordinate rectangle) — cached at
  // pushFilters time: pushLimit/pushTopN/pushAggregation all consult
  // it, and re-translating a DPP-scale In per consult is wasted work
  private var consumedVarIvs: Seq[(String, Seq[ZarrScan.Iv])] = Nil
  private var required: StructType = ZarrTable.schemaFor(meta)
  private var aggregated: Option[(Aggregation, Seq[ZarrGroupKey], StructType)] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // every RECTANGULAR predicate — comparisons, In, same-column Or, Not,
    // null tests, and And-combinations, translated to per-column interval
    // sets by ZarrScan.rectFull — is fully consumed: the reader re-applies
    // it cell-for-cell with Spark's own double semantics (NaN greatest,
    // zeros equal). DIM constraints additionally drive chunk pruning from
    // the resident coordinates; DATA-VARIABLE constraints (`v > 0.5`, the
    // valid-pixel mask of every masked statistic) apply to the decoded
    // cell and prune chunks when a ChunkStats sidecar bounds the chunk's
    // value range. Full consumption is what unlocks aggregate pushdown
    // (Spark only pushes aggregates below a scan with no post-scan
    // filters) — a masked mean folds per chunk BECAUSE the mask predicate
    // was consumed here. Non-rectangular shapes (an Or across two
    // columns) stay Spark-side.
    consumed = filters.filter(f => ZarrScan.rectFull(meta, f).isDefined)
    unhandled = filters.filterNot(f => ZarrScan.rectFull(meta, f).isDefined)
    consumedVarIvs = ZarrScan.varIvsOf(meta, consumed)
    unhandled
  }
  override def pushedFilters(): Array[Filter] = consumed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  // ---- metadata-only aggregates: count(*)/count/min/max/sum/avg over
  // (exactly-consumed-filtered) dimension columns never need a chunk: the
  // selection is a rectangle over driver-resident coordinate arrays, so
  // the answer is per-dim counting/extremes/sums — and GROUP BY over dims
  // OR block indices of dims (`floor((dim ± c)/s)` — the pyramid-planning
  // shape) is the same math per coordinate-key combination. `SELECT
  // floor(t/4), count(*) FROM cube WHERE y >= ... GROUP BY 1` on a 100 TB
  // archive is driver math, zero payload IO. Anything touching a data
  // variable, distinct, a non-consumed filter, two group keys on the SAME
  // dim (correlated keys break per-dim independence — the partial fold
  // handles those), or a group cardinality beyond `MaxGroups` declines.
  private val MaxGroups = 65536L

  private def groupDimsOf(agg: Aggregation): Option[Seq[String]] = {
    val names = agg.groupByExpressions.map(e => ZarrScan.dimName(meta, e))
    if (names.forall(_.isDefined)) Some(names.flatten.toSeq) else None
  }

  /** Distinct key-TUPLE count of one dim's group keys over its coords —
    * same-dim keys (year + month of one time axis) count jointly. */
  private def distinctComboCount(ks: Seq[ZarrGroupKey]): Long = {
    val c = meta.coords(meta.za.dims.indexOf(ks.head.dim))
    c.map(v0 => ks.map {
      case k if k.kind == ZarrGroupKey.Id => if (v0 == 0.0) 0.0 else v0
      case k if k.kind == ZarrGroupKey.Extract => k.evalExtract(v0)
      case k => k.evalLong(v0)
    }: Seq[Any]).distinct.length.toLong
  }

  private def supported(agg: Aggregation): Boolean =
    unhandled.isEmpty && consumedVarIvs.isEmpty &&
      groupKeysOf(agg).exists { ks =>
        // value-derived (data-variable) keys need the chunks — only dim
        // keys (incl. calendar extracts of a dim) stay metadata-only;
        // same-dim keys bucket jointly (ZarrAggScan dim groups), so
        // cardinality multiplies across DIMS, not keys. A NaN/Inf
        // coordinate makes a calendar key unevaluable at planning time
        // (the ANSI cast would throw) — decline complete pushdown and
        // let the partial fold evaluate only scanned cells.
        ks.forall(!_.isVar) &&
          scala.util.Try(ks.groupBy(_.dim).values
            .map(distinctComboCount).product <= MaxGroups).getOrElse(false)
      } &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case c: Count => !c.isDistinct && ZarrScan.dimName(meta, c.column).isDefined
        case m: Min => ZarrScan.dimName(meta, m.column).isDefined
        case m: Max => ZarrScan.dimName(meta, m.column).isDefined
        case s: Sum => !s.isDistinct && ZarrScan.dimName(meta, s.column).isDefined
        case a: Avg => !a.isDistinct && ZarrScan.dimName(meta, a.column).isDefined
        case _ => false
      }

  override def supportCompletePushDown(agg: Aggregation): Boolean = supported(agg)

  // ---- PARTIAL pushdown over data variables: min/max/sum/count grouped
  // by dims OR block indices `floor((dim ± c) / s)` folds per chunk
  // inside the reader (ZarrVarAggScan) — the chunks are still read, but
  // the exchange above the scan carries one row per (chunk, group)
  // instead of every cell. Group keys must be computable from the dims
  // (they then come from O(chunk) coordinate slices — the block-key form
  // is the subsample/pyramid-build/resample shape); aggregated columns
  // may be dims or data variables.
  // calendar extract keys replay Spark's own field evaluation, which is
  // session-timezone dependent — capture it at planning time (driver)
  private lazy val sessionZone: String =
    org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone

  private def groupKeysOf(agg: Aggregation): Option[Seq[ZarrGroupKey]] = {
    val keys = agg.groupByExpressions.map(e =>
      ZarrVarAggScan.groupKey(meta, e, sessionZone))
    if (keys.forall(_.isDefined)) Some(keys.flatten.toSeq) else None
  }

  private def partialSupported(agg: Aggregation): Boolean =
    unhandled.isEmpty && agg.aggregateExpressions.nonEmpty &&
      groupKeysOf(agg).exists(ks => ks.distinct.lengthCompare(ks.length) == 0) &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case c: Count =>
          !c.isDistinct && ZarrVarAggScan.aggColumn(meta, c.column).isDefined
        case m: Min => ZarrVarAggScan.aggColumn(meta, m.column).isDefined
        case m: Max => ZarrVarAggScan.aggColumn(meta, m.column).isDefined
        case s: Sum =>
          !s.isDistinct && ZarrVarAggScan.aggColumn(meta, s.column).isDefined
        case _ => false
      }

  private var partial: Option[(Aggregation, Seq[ZarrGroupKey], StructType)] = None

  override def pushAggregation(agg: Aggregation): Boolean = {
    def aggFields = agg.aggregateExpressions.zipWithIndex.map {
      case (_: CountStar, i) => StructField(s"agg_$i", LongType, nullable = false)
      case (_: Count, i) => StructField(s"agg_$i", LongType, nullable = false)
      case (_, i) => StructField(s"agg_$i", DoubleType, nullable = true)
    }
    // group output types must match Spark's own expression types: a
    // plain dim/var is the double cell value, a block/bucket index is
    // Floor's LONG, a calendar field is Extract's INT
    def groupFields(keys: Seq[ZarrGroupKey]) = keys.zipWithIndex.map {
      case (k, i) => k.kind match {
        case ZarrGroupKey.Id => StructField(k.dim, DoubleType, nullable = false)
        case ZarrGroupKey.Extract =>
          StructField(s"group_$i", IntegerType, nullable = false)
        case _ => StructField(s"group_$i", LongType, nullable = false)
      }
    }
    if (supported(agg)) {
      val keys = groupKeysOf(agg).get
      aggregated = Some((agg, keys, StructType(groupFields(keys) ++ aggFields)))
      true
    } else if (partialSupported(agg)) {
      val keys = groupKeysOf(agg).get
      partial = Some((agg, keys, StructType(groupFields(keys) ++ aggFields)))
      true
    } else false
  }

  override def build(): Scan = (aggregated, partial) match {
    case (Some((agg, keys, schema)), _) =>
      ZarrAggScan(meta, consumed, agg, schema, keys)
    case (None, Some((agg, keys, schema))) =>
      ZarrVarAggScan(meta, consumed, agg, schema, keys)
    case _ =>
      topNFold match {
        // the fold needs every sort column in the scan output (Spark keeps
        // them — it re-sorts above the partial scan); bail to a plain scan
        // if pruning ever removed one
        case Some((keys, n)) if keys.forall(k =>
            required.fieldNames.contains(k._1)) =>
          ZarrTopNScan(meta, consumed, required, keys, n)
        case _ =>
          // a pushed top-n subsumes any plain limit (Spark pushes one or
          // the other by plan shape; defensively, the slab-aligned cut
          // must win — a cell-exact limit cut could split a slab and
          // break the top-n superset contract)
          ZarrScan(meta, consumed, required, maxSlicesPerTrigger,
            if (topN.isDefined || topNFold.isDefined) None else limit, topN)
      }
  }
}

/** The pushed-aggregate scan: ONE partition carrying the driver-computed
  * answer rows. Selection is rectangular (per-dim interval sets over the
  * driver-resident coordinates), so count(*) multiplies per-dim in-range
  * counts, min/max(dim) are the in-range extremes, sum(dim)/avg(dim)
  * weight each in-range value by the other dims' in-range counts, and a
  * GROUP BY over dims or block indices of dims (`floor((dim ± c)/s)` et
  * al — see [[ZarrGroupKey]]) is the same math per coordinate-KEY
  * combination: each group key partitions ITS dim's in-range values into
  * (count, min, max, sum) buckets, combos multiply across keys because
  * every key binds a distinct dim. Repeated coordinate values merge into
  * one group, -0.0 grouped with 0.0 like Spark's key normalization, and
  * block keys evaluate with Spark's exact Floor/Cast semantics. An empty
  * selection yields count 0 / null extremes globally and NO rows under
  * GROUP BY — exactly Spark's aggregate semantics. Like every COMPLETE
  * aggregate pushdown (JDBC included), the arithmetic is the source's:
  * sums fold the in-range coordinate values in index order and scale by
  * exact integer counts, which can differ from Spark's cell-order
  * repeated addition by ordinary double rounding. */
final case class ZarrAggScan(meta: ZarrGroupMeta, consumed: Array[Filter],
                             agg: Aggregation, schema: StructType,
                             groupKeys: Seq[ZarrGroupKey])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"ZarrAggScan ${meta.groupDir} GroupBy: [" +
      groupKeys.map(_.render).mkString(", ") + "] " +
      "PushedAggregates: [" +
      agg.aggregateExpressions.map(_.toString).mkString(", ") + "]"

  /** Per-group bucket of one key's dim values (count/extremes/index-order
    * sum of the raw coordinate values that map to the key). */
  private final class KeyStat {
    var n = 0L
    var min = Double.NaN
    var max = Double.NaN
    var sum = 0.0
    def add(v: Double): Unit = {
      if (n == 0L || java.lang.Double.compare(v, min) < 0) min = v
      if (n == 0L || java.lang.Double.compare(v, max) > 0) max = v
      sum += v
      n += 1L
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val za = meta.za
    val packed = ZarrScan.packIvs(ZarrScan.rectOf(meta, consumed))
    val inRange: Seq[Array[Double]] = meta.coords.zipWithIndex.map {
      case (c, k) => c.filter(v => ZarrScan.cellInPacked(v, packed(k)))
    }
    val counts = inRange.map(_.length.toLong)
    val total = counts.product
    def aggK(e: org.apache.spark.sql.connector.expressions.Expression): Int =
      ZarrScan.dimName(meta, e).map(za.dims.indexOf).get
    // Σ of dim k's in-range values in ascending index order (the order a
    // chunk scan feeds Spark's own sum, chunk grids being index-ordered)
    def dimSum(k: Int): Double = { var s = 0.0; inRange(k).foreach(s += _); s }
    if (groupKeys.isEmpty) {
      val values: Seq[Any] = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => total
        case _: Count => total // dims are never null
        case m: Min => if (total == 0L) null else inRange(aggK(m.column)).min
        case m: Max => if (total == 0L) null else inRange(aggK(m.column)).max
        case s: Sum =>
          if (total == 0L) null
          else { val k = aggK(s.column); dimSum(k) * (total / counts(k)) }
        case a: Avg =>
          if (total == 0L) null
          else { val k = aggK(a.column); dimSum(k) / counts(k) }
        case other => throw new IllegalStateException(s"unexpected agg $other")
      }
      Array(ZarrAggPartition(Seq(values)))
    } else if (total == 0L) {
      Array(ZarrAggPartition(Seq.empty)) // GROUP BY over nothing: no rows
    } else {
      // keys on the SAME dim are CORRELATED (year + month of one time
      // axis — the calendar-inventory query): they bucket JOINTLY by the
      // key-value tuple over that dim's coordinate values; distinct dims
      // stay independent and multiply across. Output positions are
      // remembered so the row layout matches the pushed key order.
      val dimGroups: Seq[(Int, Seq[(ZarrGroupKey, Int)])] =
        groupKeys.zipWithIndex
          .groupBy { case (gk, _) => za.dims.indexOf(gk.dim) }
          .toSeq.sortBy(_._1)
          .map { case (k, ks) => (k, ks.toSeq) }
      def evalKey(gk: ZarrGroupKey, v0: Double): Any = gk.kind match {
        case ZarrGroupKey.Id =>
          if (v0 == 0.0) 0.0 else v0 // Spark groups -0.0 with 0.0
        case ZarrGroupKey.Extract => gk.evalExtract(v0)
        case _ => gk.evalLong(v0)
      }
      // per dim group: (outPos -> keyValue) tuple -> the bucket's stats
      val keyed: Seq[(Int, Seq[(Seq[(Int, Any)], KeyStat)])] =
        dimGroups.map { case (k, ks) =>
          val m = scala.collection.mutable.LinkedHashMap
            .empty[Seq[Any], (Seq[(Int, Any)], KeyStat)]
          inRange(k).foreach { v0 =>
            val kvs = ks.map { case (gk, pos) => pos -> evalKey(gk, v0) }
            m.getOrElseUpdate(kvs.map(_._2), (kvs, new KeyStat))._2.add(v0)
          }
          k -> m.values.toSeq
        }
      val keyDims = dimGroups.map(_._1)
      val otherProduct = counts.zipWithIndex
        .collect { case (n, k) if !keyDims.contains(k) => n }.product
      // Π of in-range counts over dims neither grouped nor the agg dim —
      // the per-value weight for sum(dim k) inside one group combo
      def otherOver(k: Int): Long = counts.zipWithIndex
        .collect { case (n, j) if !keyDims.contains(j) && j != k => n }.product
      val combos = keyed.map(_._2)
        .foldLeft(Seq(Seq.empty[(Seq[(Int, Any)], KeyStat)])) {
          (acc, vs) => acc.flatMap(p => vs.map(p :+ _))
        }
      val rows = combos.map { combo =>
        val groupedMult = combo.map(_._2.n).product
        val comboCount = groupedMult * otherProduct
        val statByDim: Map[Int, KeyStat] = keyDims.zip(combo.map(_._2)).toMap
        combo.flatMap(_._1).sortBy(_._1).map(_._2) ++
          agg.aggregateExpressions.toSeq.map {
          case _: CountStar => comboCount: Any
          case _: Count => comboCount: Any
          case m: Min =>
            val k = aggK(m.column)
            statByDim.get(k).map(_.min).getOrElse(inRange(k).min): Any
          case m: Max =>
            val k = aggK(m.column)
            statByDim.get(k).map(_.max).getOrElse(inRange(k).max): Any
          case s: Sum =>
            val k = aggK(s.column)
            (statByDim.get(k) match {
              // the grouped dim varies WITHIN a block group: its in-group
              // sum scaled by every other key-group's count + free dims
              case Some(st) => st.sum * (groupedMult / st.n) * otherProduct
              case None => dimSum(k) * (groupedMult * otherOver(k))
            }): Any
          case a: Avg =>
            val k = aggK(a.column)
            statByDim.get(k).map(st => st.sum / st.n)
              .getOrElse(dimSum(k) / counts(k)): Any
          case other => throw new IllegalStateException(s"unexpected agg $other")
        }
      }
      Array(ZarrAggPartition(rows))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ZarrAggReaderFactory()
}

final case class ZarrAggPartition(rows: Seq[Seq[Any]]) extends InputPartition

final case class ZarrAggReaderFactory() extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[ZarrAggPartition].rows.iterator
      private var current: Seq[Any] = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow =
        new GenericInternalRow(current.toArray)
      override def close(): Unit = ()
    }
}

final case class ZarrScan(meta: ZarrGroupMeta, consumed: Array[Filter],
                          required: StructType,
                          maxSlicesPerTrigger: Option[Long] = None,
                          limit: Option[Int] = None,
                          topN: Option[(Int, Boolean, Int)] = None)
    extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val f = consumed.map(_.toString).mkString(", ")
    val tn = topN.map { case (k, desc, n) =>
      s", PushedTopN: [${meta.za.dims(k)} ${if (desc) "DESC" else "ASC"} " +
        s"LIMIT $n]"
    }.getOrElse("")
    s"ZarrScan ${meta.groupDir} PushedFilters: [$f], " +
      s"ReadSchema: ${required.fieldNames.mkString(",")}$tn"
  }

  // ---- runtime (DPP / semi-join) filtering: Spark may push join-key
  // predicates on the dimension columns at EXECUTION time (AQE), after
  // the build side is known — chunks outside the joined key set are
  // elided without any caller-visible API. The same rect conversion
  // serves both planning-time and runtime predicates (an In over join
  // keys prunes as an exact interval SET, not a min-max span), but
  // runtime filters only prune — the plan's own join re-evaluates them —
  // so this can only skip chunks that provably contain no matching cell.
  private var runtime: Array[Filter] = Array.empty
  // only dims the scan still OUTPUTS are advertised for runtime
  // filtering: Spark's PartitionPruning resolves these against the
  // scan's output attributes, so naming a column-pruned dim crashes
  // planning of any join above a projected scan
  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    meta.za.dims.filter(required.fieldNames.contains).map(d =>
      org.apache.spark.sql.connector.expressions.Expressions.column(d)).toArray
  override def filter(fs: Array[Filter]): Unit = {
    runtime = fs.filter(f => ZarrScan.rect(meta, f).isDefined)
  }

  // ---- statistics: post-pruning row/byte estimates so Catalyst and AQE
  // see a 2-chunk subset as small (broadcastable) instead of assuming the
  // whole archive — per-dim surviving in-bounds cell counts multiply
  // exactly because pruning is rectangular. Spark may call this
  // repeatedly during planning/AQE; the estimate is deterministic for a
  // fixed (consumed, runtime) pair, so it is memoized on the scan
  // instance keyed by the runtime-filter array identity (filter()
  // replaces the reference) — the sidecar-refined form otherwise
  // re-enumerates O(chunks × vars) driver work per call.
  @transient private var statsCacheKey: Array[Filter] = _
  @transient private var statsCache: Statistics = _
  override def estimateStatistics(): Statistics = {
    if (statsCache != null && (statsCacheKey eq runtime)) return statsCache
    val computed = computeStatistics()
    statsCacheKey = runtime
    statsCache = computed
    computed
  }

  private def computeStatistics(): Statistics = {
    val za = meta.za
    val keep = ZarrScan.survivingChunks(meta, consumed ++ runtime, None)
    def extent(k: Int, ck: Int): Long = {
      val s = ck * za.chunks(k)
      (math.min(s + za.chunks(k), za.shape(k)) - s).toLong
    }
    val dimRows = keep.zipWithIndex.map { case (ks, k) =>
      ks.map(extent(k, _)).sum
    }.product
    // with a consumed VALUE predicate and a resident (inline) ANALYZE
    // sidecar, refine to the zone-map-admitted chunks' cells — the
    // estimate AQE sizes broadcast decisions with after a selective
    // value filter. Bounded to modest chunk counts (driver enumeration)
    // and to the eager form (the parquet side table would cost a job).
    val varIvs = ZarrScan.varIvsOf(meta, consumed)
    val chunkCount = keep.map(_.length.toLong).product
    val rows = (meta.stats, varIvs.nonEmpty) match {
      case (Some(st: ChunkStats.EagerStats), true) if chunkCount <= 65536 =>
        val packs = varIvs.map { case (nm, ivs) =>
          (nm, ivs.flatMap(iv => Seq(iv._1, iv._2)).toArray)
        }
        keep.foldLeft(Seq(Seq.empty[Int])) { (acc, ks) =>
          acc.flatMap(p => ks.map(p :+ _))
        }.map { key =>
          val ks = key.mkString(".")
          val admitted = packs.forall { case (nm, packed) =>
            st.vars.get(nm).flatMap(_.get(ks))
              .forall(ChunkStats.admits(_, packed))
          }
          if (admitted)
            key.zipWithIndex.map { case (ck, k) => extent(k, ck) }.product
          else 0L
        }.sum
      case _ => dimRows
    }
    val bytes = rows * 8L * math.max(1, required.fields.length)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    ZarrScan.plannedPartitions(meta, consumed, runtime, required,
      dim0Range = None, limit, topN = topN)

  override def createReaderFactory(): PartitionReaderFactory =
    ZarrReaderFactory(
      Some(ZarrScan.sharedState(meta, required, consumed, dim0Range = None)),
      columnar = true)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ZarrMicroBatchStream(meta, consumed, required, maxSlicesPerTrigger)
}

object ZarrScan {
  /** The group metadata of a frame that IS a bare connector relation —
    * no Filter/Project/anything between the DataFrame and the scan.
    * Lets operators (QuantileOps pass 0) answer whole-table questions
    * from the driver-resident sidecar with zero Spark jobs; any
    * intervening operator returns None and the pushed-aggregate job
    * runs instead, so the fast path can never change semantics. */
  private[graft] def bareMetaOf(df: org.apache.spark.sql.DataFrame)
      : Option[ZarrGroupMeta] =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table match {
          case t: ZarrTable => Some(t.meta)
          case _ => None
        }
      case _ => None
    }

  /** Shared partition planning for the batch scan and the micro-batch
    * stream: pushed-predicate chunk pruning per dim, plus an optional
    * dim-0 SLICE range (streaming's "new data" window) that both prunes
    * dim-0 chunks and rides into the partition so the reader emits only
    * in-range rows of a shared boundary chunk. */
  /** One inclusive coordinate interval. `-Inf` lower / `+Inf` upper
    * endpoints mean "unbounded on that side" and admit EVERYTHING there —
    * including NaN above, because Spark's double semantics order NaN
    * greater than every value (`NaN > lit` is TRUE for any literal). */
  type Iv = (Double, Double)
  private[zarr] val Full: Seq[Iv] =
    Seq((Double.NegativeInfinity, Double.PositiveInfinity))

  /** Spark's DoubleType comparison (SQLOrderingUtil semantics): NaN
    * equals NaN and is greater than everything else; ±0.0 compare equal. */
  @inline private[zarr] def sqlCmp(a: Double, b: Double): Int =
    if (a < b) -1 else if (a > b) 1 else if (a == b) 0
    else if (a.isNaN) { if (b.isNaN) 0 else 1 } else -1

  /** Cell membership in one interval, under Spark's double ordering. */
  @inline private[zarr] def cellIn(v: Double, lo: Double, hi: Double): Boolean =
    (lo == Double.NegativeInfinity || sqlCmp(v, lo) >= 0) &&
      (hi == Double.PositiveInfinity || sqlCmp(v, hi) <= 0)

  /** Membership in a PACKED interval set ([lo0, hi0, lo1, hi1, ...];
    * null = unconstrained dim; intervals disjoint and ascending — the
    * ivNorm invariant). Binary-searches the candidate interval, so a
    * DPP-pushed `In` over 10^5 join keys costs O(log n) per cell, not a
    * linear scan. The executor-side form of the rectangle. */
  private[graft] def cellInPacked(v: Double, packed: Array[Double]): Boolean = {
    if (packed == null) return true
    val n = packed.length >> 1
    if (n == 0) return false
    // NaN is greater than every endpoint (Spark ordering): it can only
    // belong to an interval unbounded above — the last one, if any
    if (v.isNaN) return packed(packed.length - 1) == Double.PositiveInfinity
    // find the last interval whose lo <= v (lo == -Inf sentinel included:
    // -Inf <= v for every non-NaN v)
    var lo = 0
    var hi = n - 1
    var cand = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (packed(2 * mid) <= v) { cand = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    cand >= 0 && cellIn(v, packed(2 * cand), packed(2 * cand + 1))
  }

  /** Sort + merge into disjoint ascending intervals (empty ones dropped). */
  private[zarr] def ivNorm(ivs: Seq[Iv]): Seq[Iv] = {
    val s = ivs.filter(iv => iv._1 <= iv._2).sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Iv]
    s.foreach { iv =>
      if (out.nonEmpty && iv._1 <= out.last._2) {
        val l = out.last
        out(out.length - 1) = (l._1, math.max(l._2, iv._2))
      } else out += iv
    }
    out.toSeq
  }

  private[zarr] def ivIntersect(a: Seq[Iv], b: Seq[Iv]): Seq[Iv] =
    ivNorm(for {
      x <- a; y <- b
      lo = math.max(x._1, y._1); hi = math.min(x._2, y._2)
      if lo <= hi
    } yield (lo, hi))

  private[zarr] def ivUnion(a: Seq[Iv], b: Seq[Iv]): Seq[Iv] = ivNorm(a ++ b)

  /** Complement within the double line. Endpoint stepping via nextUp /
    * nextDown is exact for doubles, so `Not(pred)` re-evaluates cell-for-
    * cell identically to Spark. An interval reaching `+Inf` covers the
    * top INCLUDING NaN (NaN is greatest), so its complement has no tail;
    * conversely every bounded-above complement piece excludes NaN, which
    * is exactly Spark's `Not(x > lit)` behavior (NaN > lit is true, so
    * the negation drops NaN). */
  private[zarr] def ivComplement(ivs: Seq[Iv]): Seq[Iv] = {
    val s = ivNorm(ivs)
    val out = scala.collection.mutable.ArrayBuffer.empty[Iv]
    var cur = Double.NegativeInfinity
    var coveredTop = false
    s.foreach { case (lo, hi) =>
      if (!coveredTop) {
        if (lo != Double.NegativeInfinity) {
          val end = math.nextDown(lo)
          if (cur <= end) out += ((cur, end))
        }
        if (hi == Double.PositiveInfinity) coveredTop = true
        else cur = math.max(cur, math.nextUp(hi))
      }
    }
    if (!coveredTop) out += ((cur, Double.PositiveInfinity))
    out.toSeq
  }

  /** A pushed filter as a RECTANGULAR constraint: per-COLUMN interval
    * sets, conjoined across columns. Defined exactly when the reader can
    * re-evaluate the filter cell-for-cell with Spark's double semantics —
    * those filters are both consumed AND (dims, plus data variables when
    * chunk statistics exist) pruned on. Plain comparisons, In, and null
    * tests translate directly; And intersects rectangles; Or unions only
    * when both sides constrain the SAME single column (a cross-column Or
    * is not rectangular and stays Spark-side); Not complements a
    * single-column constraint.
    *
    * The key space covers dims AND data variables: key k < rank is dim k,
    * key rank+i is data variable i (resolution order). A DIM constraint
    * prunes chunks through the resident coordinates and re-evaluates in
    * the cursor; a VARIABLE constraint re-evaluates in the cursor against
    * the decoded cell (values are never null — missing chunks decode to
    * the fill value — so null tests translate exactly like dims) and
    * prunes chunks only through a [[ChunkStats]] sidecar. */
  private[graft] def rectFull(meta: ZarrGroupMeta, f: Filter)
      : Option[Map[Int, Seq[Iv]]] = {
    def dim(name: String): Option[Int] = {
      val i = meta.za.dims.indexOf(name)
      if (i >= 0) Some(i)
      else {
        val v = meta.dataVars.indexOf(name)
        if (v >= 0) Some(meta.za.dims.length + v) else None
      }
    }
    def fin(v: Any): Option[Double] = (v match {
      case d: Double => Some(d)
      case fl: Float => Some(fl.toDouble)
      case l: Long => Some(l.toDouble)
      case i: Int => Some(i.toDouble)
      case s: Short => Some(s.toDouble)
      case b: Byte => Some(b.toDouble)
      case d: java.math.BigDecimal => Some(d.doubleValue)
      case _ => None
    }).filter(java.lang.Double.isFinite)
    def one(a: String, v: Any)(mk: Double => Seq[Iv]): Option[Map[Int, Seq[Iv]]] =
      for (k <- dim(a); x <- fin(v)) yield Map(k -> mk(x))
    f match {
      case EqualTo(a, v) => one(a, v)(x => Seq((x, x)))
      case EqualNullSafe(a, v) => one(a, v)(x => Seq((x, x))) // dims never null
      case GreaterThan(a, v) =>
        one(a, v)(x => Seq((math.nextUp(x), Double.PositiveInfinity)))
      case GreaterThanOrEqual(a, v) =>
        one(a, v)(x => Seq((x, Double.PositiveInfinity)))
      case LessThan(a, v) =>
        one(a, v)(x => Seq((Double.NegativeInfinity, math.nextDown(x))))
      case LessThanOrEqual(a, v) =>
        one(a, v)(x => Seq((Double.NegativeInfinity, x)))
      case In(a, vs) if vs.nonEmpty =>
        val xs = vs.toSeq.flatMap(v => fin(v).toSeq)
        if (xs.length == vs.length)
          dim(a).map(k => Map(k -> ivNorm(xs.map(x => (x, x)))))
        else None
      case IsNotNull(a) => dim(a).map(_ => Map.empty) // never null: no constraint
      case IsNull(a) => dim(a).map(k => Map(k -> Seq.empty[Iv])) // never true
      case And(l, r) =>
        for (ml <- rectFull(meta, l); mr <- rectFull(meta, r)) yield
          (ml.keySet ++ mr.keySet).iterator.map { k =>
            k -> ((ml.get(k), mr.get(k)) match {
              case (Some(x), Some(y)) => ivIntersect(x, y)
              case (Some(x), None) => x
              case (None, Some(y)) => y
              case _ => Full // unreachable: k came from one of the sets
            })
          }.toMap
      case Or(l, r) =>
        (rectFull(meta, l), rectFull(meta, r)) match {
          case (Some(ml), Some(mr))
              if ml.keySet.size == 1 && ml.keySet == mr.keySet =>
            val k = ml.keySet.head
            Some(Map(k -> ivUnion(ml(k), mr(k))))
          case _ => None
        }
      case Not(inner) =>
        rectFull(meta, inner) match {
          case Some(m) if m.isEmpty => // Not(always-true): never true
            Some(Map(0 -> Seq.empty[Iv]))
          case Some(m) if m.size == 1 =>
            val (k, ivs) = m.head
            Some(Map(k -> ivComplement(ivs)))
          case _ => None // Not over a multi-dim rectangle isn't rectangular
        }
      case _ => None
    }
  }

  /** [[rectFull]] restricted to DIM-only constraints — what the callers
    * whose arithmetic lives on the coordinate grid need (DELETE
    * truncation, runtime join-key pruning, the metadata-only aggregate):
    * a filter touching any data variable is NOT a coordinate rectangle
    * and must not be treated as one. */
  private[graft] def rect(meta: ZarrGroupMeta, f: Filter)
      : Option[Map[Int, Seq[Iv]]] =
    rectFull(meta, f).filter(_.keys.forall(_ < meta.za.dims.length))

  /** The conjunction of all consumed filters' DIM constraints as per-dim
    * interval sets. Mixed filters (`And(t === 1, v > 3)`) contribute
    * their dim half here and their variable half to [[varIvsOf]]. */
  private[graft] def rectOf(meta: ZarrGroupMeta,
                           filters: Array[Filter]): Array[Seq[Iv]] = {
    val nd = meta.za.dims.length
    val ivs = Array.fill(meta.za.shape.length)(Full)
    filters.foreach { f =>
      rectFull(meta, f).foreach(_.foreach { case (k, s) =>
        if (k < nd) ivs(k) = ivIntersect(ivs(k), s)
      })
    }
    ivs
  }

  /** The conjunction of all consumed filters' DATA-VARIABLE constraints:
    * variable name → packed interval set (empty when no filter touches a
    * variable). The cursor re-evaluates these per cell against the
    * decoded value; chunk pruning from them needs a [[ChunkStats]]
    * sidecar (a chunk whose [min, max] ∪ {NaN} possible-value set misses
    * every interval provably holds no matching cell). */
  private[graft] def varIvsOf(meta: ZarrGroupMeta,
                              filters: Array[Filter]): Seq[(String, Seq[Iv])] = {
    val nd = meta.za.dims.length
    val m = scala.collection.mutable.LinkedHashMap.empty[Int, Seq[Iv]]
    filters.foreach { f =>
      rectFull(meta, f).foreach(_.foreach { case (k, s) =>
        if (k >= nd) m(k) = m.get(k).map(ivIntersect(_, s)).getOrElse(s)
      })
    }
    m.toSeq.map { case (k, s) => meta.dataVars(k - nd) -> s }
  }

  /** Executor-shippable packed form of [[rectOf]] (null = unconstrained). */
  private[graft] def packIvs(ivs: Array[Seq[Iv]]): Array[Array[Double]] =
    ivs.map { s =>
      if (s == Full) null
      else s.flatMap(iv => Seq(iv._1, iv._2)).toArray
    }

  /** Per-dim surviving chunk indices: a chunk survives when its coord
    * span intersects SOME interval of every dim's pushed set — only
    * provable for monotone coords — and (streaming) when it intersects
    * the dim-0 slice window. */
  private[zarr] def survivingChunks(meta: ZarrGroupMeta,
                                    filters: Array[Filter],
                                    dim0Range: Option[(Long, Long)])
      : Seq[Seq[Int]] = {
    val za = meta.za
    val rank = za.shape.length
    val ivs = rectOf(meta, filters)
    val grid = za.chunkGrid
    (0 until rank).map { k =>
      val c = meta.coords(k)
      val all: Seq[Int] = (0 until grid(k)).filter { ck =>
        dim0Range.forall { case (s0, e0) =>
          k != 0 || {
            val cs = ck.toLong * za.chunks(0)
            cs < e0 && cs + za.chunks(0) > s0
          }
        }
      }
      if (ivs(k) == Full) all
      else if (!ZarrScan.monotone(c)) all
      else {
        // disjoint ascending intervals: the only candidate for a span
        // intersection is the LAST interval with lo <= span-hi (every
        // earlier one ends before that interval starts), so a chunk test
        // is O(log n) even under a DPP-pushed In over 10^5 join keys
        val arr = ivs(k).toIndexedSeq
        all.filter { ck =>
          val s = ck * za.chunks(k)
          val e = math.min(s + za.chunks(k), za.shape(k)) - 1
          val (cLo, cHi) = (math.min(c(s), c(e)), math.max(c(s), c(e)))
          var lo = 0
          var hi = arr.length - 1
          var cand = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (arr(mid)._1 <= cHi) { cand = mid; lo = mid + 1 }
            else hi = mid - 1
          }
          cand >= 0 && arr(cand)._2 >= cLo
        }
      }
    }
  }

  /** The dim column name of a simple field reference, if it is one. */
  private[zarr] def dimName(meta: ZarrGroupMeta,
                            e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case fr: org.apache.spark.sql.connector.expressions.NamedReference
        if fr.fieldNames.length == 1 && meta.za.dims.contains(fr.fieldNames.head) =>
      Some(fr.fieldNames.head)
    case _ => None
  }

  /** Scan-level state shared by every task of one scan. Lives in the
    * READER FACTORY, which rides Spark's task-binary broadcast once per
    * executor — input partitions stay O(chunk key), so planning a
    * 10^7-chunk archive keeps the driver's partition array at integer-key
    * size per chunk and never copies the coordinate arrays per task.
    * Executors slice each chunk's coordinates locally from the shared
    * arrays. Streaming scans inline a per-batch copy instead (the stream
    * factory is created once, but an append grows the coordinates batch
    * over batch). */
  final case class SharedScanState(groupDir: String,
                                   za: ZarrArray,
                                   coords: Seq[Array[Double]],
                                   vars: Seq[(String, ZarrArray)],
                                   outCols: Seq[String],
                                   store: ByteStore,
                                   v3: Boolean,
                                   dim0Range: Option[(Long, Long)],
                                   cellIvs: Option[Array[Array[Double]]],
                                   varIvs: Seq[(String, Array[Double])] = Nil)

  /** Deterministic shared state for a scan's fields — called from both
    * planInputPartitions and createReaderFactory, so it must be a pure
    * function of (meta, required, consumed, dim0Range). */
  private[zarr] def sharedState(meta: ZarrGroupMeta, required: StructType,
                                consumed: Array[Filter],
                                dim0Range: Option[(Long, Long)])
      : SharedScanState = {
    val varIvs = varIvsOf(meta, consumed)
    // a variable referenced only by a consumed predicate must still be
    // DECODED for the cursor's cell test, but is not an output column —
    // it rides at the tail, past every outCols position
    val vars = required.fieldNames.filter(meta.dataVars.contains).toSeq ++
      varIvs.map(_._1).filterNot(required.fieldNames.contains)
    SharedScanState(meta.groupDir, meta.za, meta.coords,
      vars.map(v => v -> meta.varMeta(v)), required.fieldNames.toSeq,
      meta.store, meta.v3, dim0Range,
      // packed interval sets for the filters this scan CONSUMED — the
      // reader applies them per cell (runtime filters only prune: the
      // plan's own join re-evaluates those)
      if (consumed.isEmpty) None else Some(packIvs(rectOf(meta, consumed))),
      varIvs.map { case (n, s) =>
        n -> s.flatMap(iv => Seq(iv._1, iv._2)).toArray
      })
  }

  /** Sub-chunk stat lookups resolve at most this many SHARD keys per
    * sidecar round-trip (each expands to nInner block keys) — bounds
    * driver memory per planning call regardless of archive size. */
  private[zarr] val BlockKeyBatch = 4096

  private[zarr] def plannedPartitions(meta: ZarrGroupMeta,
                                      consumed: Array[Filter],
                                      runtime: Array[Filter],
                                      required: StructType,
                                      dim0Range: Option[(Long, Long)],
                                      limit: Option[Int] = None,
                                      inlineShared: Boolean = false,
                                      topN: Option[(Int, Boolean, Int)] = None)
      : Array[InputPartition] =
    pack(planChunkParts(meta, consumed, runtime, required, dim0Range, limit,
      inlineShared, topN), meta.za, required.fields.length)

  /** The chunk-level half of [[plannedPartitions]]: the surviving,
    * stats-admitted, limit/top-n-truncated chunk partitions BEFORE
    * size-targeted packing — the var-agg scan splits these into
    * sidecar-answerable and must-read sets first. */
  private[zarr] def planChunkParts(meta: ZarrGroupMeta,
                                   consumed: Array[Filter],
                                   runtime: Array[Filter],
                                   required: StructType,
                                   dim0Range: Option[(Long, Long)],
                                   limit: Option[Int] = None,
                                   inlineShared: Boolean = false,
                                   topN: Option[(Int, Boolean, Int)] = None)
      : Seq[ZarrInputPartition] = {
    val za = meta.za
    val rank = za.shape.length
    val keep = survivingChunks(meta, consumed ++ runtime, dim0Range)
    val shared = sharedState(meta, required, consumed, dim0Range)
    val vars = shared.vars.map(_._1)
    // the EXACT matching cell count of one chunk (slice values within the
    // consumed interval sets — driver math over resident coordinates)
    def matching(key: Seq[Int]): Long =
      (0 until rank).map { k =>
        val s = key(k) * za.chunks(k)
        val e = math.min(s + za.chunks(k), za.shape(k))
        val slice = meta.coords(k).slice(s, e)
        shared.cellIvs match {
          case Some(bs) => slice.count(v => cellInPacked(v, bs(k))).toLong
          case None => slice.length.toLong
        }
      }.product
    // stream the key cross-product: nothing bigger than the SURVIVING key
    // list ever materializes on the driver. A pushed top-n reorders the
    // enumeration SLAB-major along the sort dim, from the requested end.
    val allKeys: Iterator[Seq[Int]] = topN match {
      case Some((sk, desc, _)) =>
        val c = meta.coords(sk)
        def rep(ck: Int): Double = { // slab edge in the requested order
          val s = ck * za.chunks(sk)
          val e = math.min(s + za.chunks(sk), za.shape(sk)) - 1
          if (desc) math.max(c(s), c(e)) else math.min(c(s), c(e))
        }
        val slabs = keep(sk).sortBy(rep)(
          if (desc) Ordering[Double].reverse else Ordering[Double])
        slabs.iterator.flatMap { ck =>
          keep.zipWithIndex.foldLeft(Iterator.single(Seq.empty[Int])) {
            case (acc, (ks, kk)) =>
              acc.flatMap(p =>
                (if (kk == sk) Iterator.single(ck) else ks.iterator)
                  .map(p :+ _))
          }
        }
      case None =>
        keep.foldLeft(Iterator.single(Seq.empty[Int])) { (acc, ks) =>
          acc.flatMap(p => ks.iterator.map(p :+ _))
        }
    }
    // value-predicate chunk pruning through the ANALYZE sidecar: drop any
    // chunk whose possible-value set — [min, max] ∪ {NaN if present} —
    // provably misses a consumed variable constraint. Advisory: chunks
    // missing from the sidecar are kept, and the cursor re-evaluates
    // every consumed predicate on the chunks that ARE read, so a stale-
    // free sidecar only elides reads, never changes results. (limit/topN
    // never coexist with variable constraints — the builder declines
    // them — so the cell-count accounting below stays exact.)
    val varIvs = varIvsOf(meta, consumed)
    // sub-chunk refinement targets, filled by the stats branch below:
    // chunk key string → the admitted inner-chunk ordinals + fail values
    var innerKeeps: Map[String, ZarrInnerKeep] = Map.empty
    val admittedKeys: Iterator[Seq[Int]] = (meta.stats, varIvs.nonEmpty) match {
      case (Some(st), true) =>
        // candidate keys materialize here (they do below anyway) and the
        // sidecar is bulk-resolved for exactly them — with the parquet
        // side table that is one broadcast join, O(candidates) driver
        // memory, never O(archive)
        val candidates = allKeys.toVector
        val keyStrs = candidates.map(_.mkString("."))
        val packs = varIvs.map { case (nm, ivs) =>
          (nm, ivs.flatMap(iv => Seq(iv._1, iv._2)).toArray)
        }
        val statMap = st.bulk(packs.map(_._1), keyStrs)
        val admitted = candidates.zip(keyStrs).filter {
          case (_, ks) => packs.forall { case (nm, packed) =>
            statMap.get((nm, ks)).forall(ChunkStats.admits(_, packed))
          }
        }
        // SUB-chunk zone maps (per-inner-block stat rows, ChunkStats
        // "<key>#<ord>"): an admitted chunk whose blocks are partially
        // excluded ships its admitted inner-ordinal set. Two decode
        // paths consume it: SHARDED v3 variables fetch only the admitted
        // inner chunks' byte ranges (decodeShardSelective — needs a
        // local store, not refs), and LARGE plain-codec chunks with an
        // ANALYZE-recorded virtual strip grid skip the excluded strips'
        // element-wise conversion (decodeChunkSelective — works for
        // refs-backed archives too: the IO is one ref regardless, the
        // decode cost isn't). Excluded cells carry a fail value outside
        // the interval set, dropped by per-cell re-evaluation. Engages
        // when every CHECKED variable shares one inner grid of one kind
        // (mixed shard/plain sets keep chunk-granular pruning).
        val shardInners = varIvs.map { case (nm, _) =>
          meta.varMeta(nm).codec match {
            case sh: graft.sources.ZarrSource.Shard => Some(sh.inner)
            case _ => None
          }
        }
        val virtInners = varIvs.map { case (nm, _) =>
          meta.varMeta(nm).codec match {
            case _: graft.sources.ZarrSource.Shard => None
            case _ => st.grids.get(nm)
          }
        }
        val innersOpt =
          if (meta.refs.isEmpty && shardInners.forall(_.isDefined))
            Some((shardInners.flatten, true))
          else if (!meta.v3 && virtInners.forall(_.isDefined))
            Some((virtInners.flatten, false))
          else None
        innersOpt match { case Some((is, isShard)) if is.distinct.length == 1 =>
          val inner = is.head
          val nInner = za.chunks.zip(inner).map { case (c, i) => c / i }.product
          if (nInner > 1) {
            // only STRADDLING shards can yield a partial inner-block keep:
            // a shard whose chunk-level stats fully admit every checked
            // variable admits every block (fullyAdmits is cell-universal),
            // and a shard with NO stat row has no block rows either — so
            // block keys are generated for straddlers alone, not
            // admittedShards × nInner (at archive scale, 1e5 shards × 256
            // blocks would be ~1e7 driver-side strings per plan)
            val straddlerStrs = admitted.collect {
              case (_, ks) if packs.exists { case (nm, packed) =>
                statMap.get((nm, ks))
                  .exists(!ChunkStats.fullyAdmits(_, packed))
              } => ks
            }
            // batch the sidecar lookup: bounded driver memory per call,
            // and with the parquet side table each batch is one
            // broadcast join over a bounded key list
            val blockMap = straddlerStrs.grouped(BlockKeyBatch)
              .foldLeft(Map.empty[(String, String), ChunkStats.VarStat]) {
                (acc, batch) =>
                  val blockKeys = for (ks <- batch; ord <- 0 until nInner)
                    yield s"$ks#$ord"
                  acc ++ st.bulk(packs.map(_._1), blockKeys)
              }
            if (blockMap.nonEmpty) {
              val fails = packs.map { case (nm, packed) =>
                nm -> ChunkStats.failValueOutside(packed)
              }
              innerKeeps = straddlerStrs.flatMap { ks =>
                val keep = (0 until nInner).filter { ord =>
                  packs.forall { case (nm, packed) =>
                    blockMap.get((nm, s"$ks#$ord"))
                      .forall(ChunkStats.admits(_, packed))
                  }
                }
                if (keep.length < nInner)
                  Some(ks -> ZarrInnerKeep(keep, fails,
                    if (isShard) Nil else inner))
                else None
              }.toMap
            }
          }
        case _ =>
        }
        admitted.iterator.map(_._1)
      case _ => allKeys
    }
    // pushed LIMIT: keep only enough chunks to cover it; a pushed TOP-N
    // additionally cuts only at slab boundaries, so every kept row sorts
    // at-or-before every dropped row on the first sort key (the slab
    // superset always contains a valid top-n — ties at the boundary are
    // the usual SQL tie nondeterminism)
    val keys: Seq[Seq[Int]] = ((limit, topN) match {
      case (Some(n), _) =>
        var acc = 0L
        admittedKeys.takeWhile { key =>
          val take = acc < n
          acc += matching(key)
          take
        }
      case (None, Some((sk, _, n))) =>
        var acc = 0L
        var lastSlab = Int.MinValue
        admittedKeys.takeWhile { key =>
          val newSlab = key(sk) != lastSlab
          if (newSlab && acc >= n) false
          else {
            lastSlab = key(sk)
            acc += matching(key)
            true
          }
        }
      case _ => admittedKeys
    }).toVector
    // virtual (kerchunk-backed) tables: resolve the SURVIVING chunks'
    // refs in one bulk lookup at planning time, so each partition ships
    // O(vars) refs, never the reference map — and through a lazy lookup
    // (openRefsLazy) the driver only ever holds the refs this query's
    // pruned chunk set actually needs
    val resolved: Option[Map[String, Ref]] = meta.refs.map { lookup =>
      lookup.bulk(for (key <- keys; v <- vars) yield
        s"$v/${key.mkString(meta.varMeta(v).separator)}")
    }
    val chunkParts: Seq[ZarrInputPartition] = keys.map { key =>
      val chunkRefs = resolved.map { r =>
        vars.map { v =>
          r.get(s"$v/${key.mkString(meta.varMeta(v).separator)}")
        }
      }
      ZarrInputPartition(key, chunkRefs,
        if (inlineShared) Some(shared) else None,
        innerKeeps.get(key.mkString(".")))
    }
    chunkParts
  }

  /** Pack lexicographically-adjacent surviving chunks into size-targeted
    * input partitions with Spark's own file-split formula —
    * `min(maxPartitionBytes, max(openCostInBytes, totalBytes /
    * minPartitionNum))` over estimated decoded bytes plus the per-chunk
    * open cost. A 10^7-chunk archive plans tens of thousands of ~128 MB
    * tasks instead of 10^7 task launches; small scans still split one
    * chunk per task (the open cost dominates), keeping parallelism and
    * per-chunk plan audits intact. Honors the same session knobs as file
    * sources: spark.sql.files.{maxPartitionBytes, openCostInBytes,
    * minPartitionNum}. */
  private[zarr] def pack(chunkParts: Seq[ZarrInputPartition],
                         za: ZarrArray, nCols: Int): Array[InputPartition] = {
    if (chunkParts.isEmpty) return Array.empty
    val session = org.apache.spark.sql.SparkSession.active
    val conf = session.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minPartitionNum = conf.filesMinPartitionNum
      .orElse(conf.getConf(
        org.apache.spark.sql.internal.SQLConf.LEAF_NODE_DEFAULT_PARALLELISM))
      .getOrElse(session.sparkContext.defaultParallelism)
    val bytesPerChunk = za.chunkElems.toLong * 8L * math.max(1, nCols)
    val totalBytes = chunkParts.length.toLong * (bytesPerChunk + openCost)
    val bytesPerCore = totalBytes / math.max(1, minPartitionNum)
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, bytesPerCore))
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    val cur = scala.collection.mutable.ArrayBuffer.empty[ZarrInputPartition]
    var curBytes = 0L
    chunkParts.foreach { p =>
      if (cur.nonEmpty && curBytes + bytesPerChunk > maxSplit) {
        out += ZarrPackedPartition(cur.toSeq)
        cur.clear(); curBytes = 0L
      }
      cur += p
      curBytes += bytesPerChunk + openCost
    }
    if (cur.nonEmpty) out += ZarrPackedPartition(cur.toSeq)
    out.toArray
  }

  /** Is every in-bounds cell of this chunk selected by the scan's
    * consumed DIM rectangle? (The stat-row and zone-map-top-n planners
    * need "nothing in this chunk is filtered away by dim predicates".) */
  private[zarr] def chunkFullySelected(meta: ZarrGroupMeta,
                                       shared: SharedScanState,
                                       cp: ZarrInputPartition): Boolean =
    shared.cellIvs.forall { bs =>
      meta.za.dims.indices.forall { k =>
        bs(k) == null || {
          val s = cp.key(k) * meta.za.chunks(k)
          meta.coords(k)
            .slice(s, math.min(s + meta.za.chunks(k), meta.za.shape(k)))
            .forall(v => cellInPacked(v, bs(k)))
        }
      }
    }

  /** Strictly orderable monotone check. Any NaN → NOT monotone: NaN
    * comparisons are all false, so the violation tests below would never
    * fire and a NaN-filled coordinate chunk (e.g. a missing chunk decoded
    * as a CF NaN fill in an external archive) would look monotone, make a
    * chunk span NaN, fail the intersection test, and silently prune a
    * chunk that may hold matching cells. Not-monotone just disables
    * pruning on that dim — correct, only unpruned. */
  def monotone(c: Array[Double]): Boolean = {
    if (c.length == 0) return true
    if (c(0).isNaN) return false
    if (c.length < 2) return true
    val asc = c(c.length - 1) >= c(0)
    var i = 1
    while (i < c.length) {
      if (c(i).isNaN) return false
      if (asc && c(i) < c(i - 1)) return false
      if (!asc && c(i) > c(i - 1)) return false
      i += 1
    }
    true
  }

  /** [[monotone]] with NO duplicate values anywhere — what a multi-key
    * top-n cut needs (a repeated first-key value across a slab boundary
    * could tie with a dropped row that secondary keys would keep). */
  def strictMonotone(c: Array[Double]): Boolean = {
    if (!monotone(c)) return false
    var i = 1
    while (i < c.length) {
      if (c(i) == c(i - 1)) return false
      i += 1
    }
    true
  }
}

/** One chunk's task payload: the chunk key, its resolved byte-range refs
  * (virtual tables only), and — streaming scans only — an inline copy of
  * the scan-level shared state. Batch scans get the shared state from
  * the reader factory instead, keeping driver planning memory at
  * O(key) per chunk. */
/** Sub-chunk (inner-chunk) pruning instructions for one SHARD chunk:
  * the admitted inner ordinals and, per CHECKED variable, a fill value
  * provably outside its consumed interval set — the cursor decodes only
  * the admitted inner chunks (ranged reads) and fills the rest with the
  * fail value, which the per-cell predicate re-evaluation then drops. */
final case class ZarrInnerKeep(keep: Seq[Int], fail: Seq[(String, Double)],
                               // the virtual strip grid for plain-codec
                               // selective decode; Nil for sharded
                               // variables (their codec carries it)
                               inner: Seq[Int] = Nil)

final case class ZarrInputPartition(key: Seq[Int],
                                    chunkRefs: Option[Seq[Option[Ref]]] = None,
                                    inline: Option[ZarrScan.SharedScanState] = None,
                                    innerKeep: Option[ZarrInnerKeep] = None)
    extends InputPartition

/** One task's worth of chunks ([[ZarrScan.pack]]); chunks decode lazily
  * one at a time inside the reader, so task memory stays O(chunk). */
final case class ZarrPackedPartition(chunks: Seq[ZarrInputPartition])
    extends InputPartition

final case class ZarrReaderFactory(shared: Option[ZarrScan.SharedScanState] = None,
                                   columnar: Boolean = false)
    extends PartitionReaderFactory {
  private def chunksOf(partition: InputPartition): Seq[ZarrInputPartition] =
    partition match {
      case pk: ZarrPackedPartition => pk.chunks
      case single: ZarrInputPartition => Seq(single)
    }
  private def sharedOf(chunks: Seq[ZarrInputPartition]): ZarrScan.SharedScanState =
    chunks.head.inline.orElse(shared).getOrElse(throw new IllegalStateException(
      "zarr partition without scan state (factory and partition both bare)"))
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val cs = chunksOf(partition)
    new ZarrPartitionReader(sharedOf(cs), cs)
  }
  // batch scans hand Spark ColumnarBatch vectors (the parquet reader's
  // contract): the whole-stage pipeline consumes a vectorized scan via
  // ColumnarToRow instead of one boxed GenericInternalRow per cell
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val cs = chunksOf(partition)
    new ZarrColumnarReader(sharedOf(cs), cs)
  }
}

/** The shared per-chunk cell walk: decodes this task's chunk object per
  * required variable, then steps an odometer over the chunk's in-bounds,
  * in-window, filter-passing cells. Both the row reader and the columnar
  * reader drive it; values are read as primitives (no boxing here).
  * `prefetched` carries this chunk's raw bytes when the packed partition
  * already fetched them in one coalesced multi-range request. */
private[zarr] final class ChunkCursor(shared: ZarrScan.SharedScanState,
    p: ZarrInputPartition,
    prefetched: Option[Seq[Option[Array[Byte]]]] = None) {
  private val za = shared.za
  private val rank = za.shape.length
  // this chunk's coordinate labels, sliced LOCALLY from the shared arrays
  private val coordSlices: IndexedSeq[Array[Double]] = (0 until rank).map { k =>
    val s = p.key(k) * za.chunks(k)
    shared.coords(k).slice(s, math.min(s + za.chunks(k), za.shape(k)))
  }
  /** The admitted-strips instruction for a CHECKED variable of a
    * partially-admitted chunk (sub-chunk zone maps); None for unchecked
    * (projection-only) variables, which decode in full. */
  private def selectiveOf(v: String): Option[(Seq[Int], Double)] =
    p.innerKeep.flatMap(ik =>
      ik.fail.collectFirst { case (nm, fv) if nm == v => (ik.keep, fv) })

  private val data: Seq[Array[Double]] = p.chunkRefs match {
    case Some(refOpts) =>
      // virtual table: all of this chunk's refs fetched together so
      // neighboring ranges into the same granule coalesce into one
      // ranged GET (ByteStore.readRanges) — or taken from the packed
      // partition's single prefetch
      val raws = prefetched.getOrElse(
        KerchunkSource.fetchAll(refOpts, shared.store))
      shared.vars.zip(raws).map {
        case ((v, vza), Some(raw)) =>
          // sub-chunk zone maps on a LARGE-chunk granule (a whole-map
          // NetCDF record): the ref is fetched whole — the IO is one
          // ref regardless — but excluded strips skip the element-wise
          // decode and carry a fail value the per-cell re-evaluation
          // drops
          selectiveOf(v)
            .filter(_ => p.innerKeep.exists(_.inner.nonEmpty)) match {
            case Some((keep, fv)) => ZarrSource.decodeChunkSelective(
              raw, vza, p.innerKeep.get.inner, keep.toSet, fv)
            case None => ZarrSource.decodeChunk(raw, vza)
          }
        case ((_, vza), None) =>
          Array.fill(vza.chunkElems)(vza.cfDecode(vza.fillValue))
      }
    case None =>
      shared.vars.map { case (v, vza) =>
        val chunkName =
          if (shared.v3) ZarrV3Source.chunkKey(vza, p.key.map(_.toLong))
          else p.key.mkString(vza.separator)
        val path = s"${shared.groupDir}/$v/$chunkName"
        // sub-chunk zone maps: a CHECKED variable of a partially-admitted
        // shard decodes selectively — index + admitted inner chunks only
        // (ranged reads); a CHECKED plain-codec variable with a virtual
        // strip grid reads whole but skips excluded strips' element
        // conversion. Either way excluded cells carry a value outside
        // the consumed interval set so the per-cell re-evaluation drops
        // them. Unchecked (projection-only) variables decode in full:
        // their excluded-block cells never pass the checked filter.
        (vza.codec, selectiveOf(v)) match {
          case (sh: ZarrSource.Shard, Some((keep, fv)))
              if shared.v3 && shared.store.exists(path) =>
            ZarrV3Source.decodeShardSelective(shared.store, path, vza, sh,
              keep.toSet, fv)
          case (_: ZarrSource.Shard, _) | (_, None) =>
            shared.store.readIfExists(path) match {
              case Some(raw) =>
                if (shared.v3) ZarrV3Source.decodeAny(raw, vza)
                else ZarrSource.decodeChunk(raw, vza)
              case None =>
                Array.fill(vza.chunkElems)(vza.cfDecode(vza.fillValue))
            }
          case (_, Some((keep, fv)))
              if !shared.v3 && p.innerKeep.exists(_.inner.nonEmpty) =>
            shared.store.readIfExists(path) match {
              case Some(raw) => ZarrSource.decodeChunkSelective(
                raw, vza, p.innerKeep.get.inner, keep.toSet, fv)
              case None =>
                Array.fill(vza.chunkElems)(vza.cfDecode(vza.fillValue))
            }
          case _ =>
            shared.store.readIfExists(path) match {
              case Some(raw) =>
                if (shared.v3) ZarrV3Source.decodeAny(raw, vza)
                else ZarrSource.decodeChunk(raw, vza)
              case None =>
                Array.fill(vza.chunkElems)(vza.cfDecode(vza.fillValue))
            }
        }
      }
  }
  // output column -> (isVar, index into dims or data)
  private val outPlan: Array[(Boolean, Int)] = shared.outCols.map { c =>
    val d = za.dims.indexOf(c)
    if (d >= 0) (false, d)
    else (true, shared.vars.indexWhere(_._1 == c))
  }.toArray

  // consumed DATA-VARIABLE predicates: (decoded-array index, packed
  // interval set) — evaluated per cell against the decoded value with
  // the same Spark double semantics as the dim intervals
  private val varChecks: Array[(Int, Array[Double])] = shared.varIvs.map {
    case (nm, packed) => (shared.vars.indexWhere(_._1 == nm), packed)
  }.toArray

  val nCols: Int = outPlan.length
  private val idx = new Array[Int](rank) // odometer within the chunk
  private var flat = -1
  private val n = za.chunkElems

  /** Step to the next emitted cell; false when the chunk is done. */
  def advance(): Boolean = {
    while (true) {
      flat += 1
      if (flat >= n) return false
      if (flat > 0) { // advance odometer (last dim fastest, C order)
        var d = rank - 1
        var carry = true
        while (carry && d >= 0) {
          idx(d) += 1
          if (idx(d) == za.chunks(d)) { idx(d) = 0; d -= 1 } else carry = false
        }
      }
      var inBounds = true
      var k = 0
      while (k < rank) {
        if (p.key(k) * za.chunks(k) + idx(k) >= za.shape(k)) inBounds = false
        k += 1
      }
      // streaming slice window: only rows of the new dim-0 range — a
      // boundary chunk shared with already-emitted slices stays exactly-once
      shared.dim0Range.foreach { case (s0, e0) =>
        val g0 = p.key(0).toLong * za.chunks(0) + idx(0)
        if (g0 < s0 || g0 >= e0) inBounds = false
      }
      // exactly-consumed dim predicates: the scan claimed these, so the
      // cell-level interval test here IS the filter (Spark's own double
      // semantics: NaN greatest, zeros equal)
      shared.cellIvs.foreach { bs =>
        var d = 0
        while (inBounds && d < rank) {
          if (!ZarrScan.cellInPacked(coordSlices(d)(idx(d)), bs(d)))
            inBounds = false
          d += 1
        }
      }
      // exactly-consumed DATA-VARIABLE predicates, against decoded cells
      var vc = 0
      while (inBounds && vc < varChecks.length) {
        val (vi, packed) = varChecks(vc)
        if (!ZarrScan.cellInPacked(data(vi)(flat), packed)) inBounds = false
        vc += 1
      }
      if (inBounds) return true
    }
    false
  }

  /** Output column c's value at the cursor, as a primitive double. */
  def colValue(c: Int): Double = {
    val (isVar, i) = outPlan(c)
    if (isVar) data(i)(flat) else coordSlices(i)(idx(i))
  }

  /** The chunk's decoded buffers, one per scanned variable (callers must
    * not mutate) — ANALYZE folds them like a writer folds its own. */
  private[zarr] def decoded: Seq[Array[Double]] = data
}

/** One coalesced multi-range fetch for every refs-backed chunk of a
  * packed partition: packing groups lexicographically-adjacent chunks,
  * whose byte ranges usually sit next to each other in the same granule,
  * so the whole task often costs ONE ranged GET instead of one per chunk
  * (the `ref/store.py` max_gap/max_block contract applied across the
  * task, not just within a chunk). Memory holds the task's COMPRESSED
  * bytes, bounded by the packing target; decode stays per-cursor. */
private[zarr] object PackedPrefetch {
  def apply(shared: ZarrScan.SharedScanState, chunks: Seq[ZarrInputPartition])
      : Option[IndexedSeq[Seq[Option[Array[Byte]]]]] =
    if (chunks.length <= 1 || chunks.head.chunkRefs.isEmpty) None
    else {
      val per = chunks.map(_.chunkRefs.get)
      val raw = KerchunkSource.fetchAll(per.flatten, shared.store)
      var i = 0
      Some(per.map { refs =>
        val s = raw.slice(i, i + refs.length); i += refs.length; s
      }.toIndexedSeq)
    }
}

/** Row-at-a-time reader (streaming scans and the var-agg fold use it).
  * Chunks of a packed partition decode lazily, one cursor at a time. */
final class ZarrPartitionReader(shared: ZarrScan.SharedScanState,
                                chunks: Seq[ZarrInputPartition])
    extends PartitionReader[InternalRow] {

  private val prefetched = PackedPrefetch(shared, chunks)
  private val it = chunks.zipWithIndex.iterator
  private var cursor: ChunkCursor = _
  private var current: InternalRow = _

  private def step(): Boolean = {
    while (true) {
      if (cursor == null) {
        if (!it.hasNext) return false
        val (p, i) = it.next()
        cursor = new ChunkCursor(shared, p, prefetched.map(_(i)))
      }
      if (cursor.advance()) return true
      cursor = null
    }
    false
  }

  override def next(): Boolean =
    if (step()) {
      val vals = new Array[Any](cursor.nCols)
      var c = 0
      while (c < cursor.nCols) { vals(c) = cursor.colValue(c); c += 1 }
      current = new GenericInternalRow(vals)
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Vectorized reader: fills reused on-heap double vectors in batches of
  * [[ZarrColumnarReader.BatchRows]] cells — the scan feeds whole-stage
  * codegen ColumnarBatch spans with zero per-cell allocation, exactly
  * like Spark's own vectorized parquet reader. Memory is bounded by
  * columns × BatchRows doubles regardless of chunk or partition size
  * (packed chunks decode one at a time; a batch never spans chunks). */
final class ZarrColumnarReader(shared: ZarrScan.SharedScanState,
                               chunks: Seq[ZarrInputPartition])
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val prefetched = PackedPrefetch(shared, chunks)
  private val it = chunks.zipWithIndex.iterator
  private var cursor: ChunkCursor = _
  private var vectors: Array[OnHeapColumnVector] = _
  private var batch: ColumnarBatch = _

  override def next(): Boolean = {
    while (true) {
      if (cursor == null) {
        if (!it.hasNext) return false
        val (p, i) = it.next()
        cursor = new ChunkCursor(shared, p, prefetched.map(_(i)))
        if (vectors == null) {
          vectors = Array.fill(cursor.nCols)(
            new OnHeapColumnVector(ZarrColumnarReader.BatchRows, DoubleType))
          batch = new ColumnarBatch(vectors.map(v => v: ColumnVector), 0)
        }
      }
      var n = 0
      vectors.foreach(_.reset())
      while (n < ZarrColumnarReader.BatchRows && cursor.advance()) {
        var c = 0
        while (c < cursor.nCols) {
          vectors(c).putDouble(n, cursor.colValue(c))
          c += 1
        }
        n += 1
      }
      if (n > 0) {
        batch.setNumRows(n)
        return true
      }
      cursor = null // chunk drained: move on (an all-filtered chunk loops)
    }
    false
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
  override def close(): Unit = if (vectors != null) vectors.foreach(_.close())
}

object ZarrColumnarReader {
  /** Spark's own vectorized-reader default batch size. */
  val BatchRows = 4096
}
