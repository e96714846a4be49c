package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** DataStore API (reference xcube/core/store/store.py:27-52, filesystem
  * impl store/fs/store.py:67-814, format-guessing open/write
  * dsio.py:42-114): a thin pluggable catalog — list / describe / open /
  * write — over Spark's own readers. Formats are inferred from the data-id
  * extension; any Hadoop-FS protocol in the path (file://, s3a://, ...)
  * works unchanged, which is the reference's store-protocol matrix
  * (plugin.py:82-89) for free.
  */
trait DataStore {
  def listDataIds(): Seq[String]
  def describe(dataId: String): String
  def open(dataId: String): DataFrame
  def write(dataId: String, df: DataFrame, mode: String = "error"): Unit

  /** search_data (reference store/store.py:139-720 through
    * search.py:38-131's list-describe-filter default): filter the
    * catalog by data type, variable name, spatial bbox INTERSECTION and
    * time-range OVERLAP, returning one typed descriptor per hit.
    *
    * Schema-only predicates (type, variable) prune FIRST so the
    * extent probe — one min/max aggregate over the entry's coordinate
    * columns — runs only for surviving candidates; over the zarr/netcdf
    * connectors that aggregate is the metadata-only plan (answered from
    * driver-resident coordinates, zero chunk IO), so searching a
    * petabyte catalog costs catalog-sized work, not data-sized work.
    * Extents are also computed only when the caller filters on them or
    * asks for them (`withExtents`), and the per-entry probes are
    * BATCHED — up to [[DataStore.SearchProbeBatch]] single-row agg
    * branches union into one Spark job whose branch scans schedule
    * concurrently — so a 10^4-entry catalog pays ~10^4/64 jobs, not
    * 10^4 serial tiny ones. */
  def searchData(dataType: Option[String] = None,
                 varName: Option[String] = None,
                 bbox: Option[(Double, Double, Double, Double)] = None,
                 timeRange: Option[(Double, Double)] = None,
                 withExtents: Boolean = false): Seq[DataStore.DataDescriptor] = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    val needExtents = withExtents || bbox.isDefined || timeRange.isDefined
    val dims = Set("t", "time", "y", "x", "lat", "lon", "latitude",
      "longitude")
    // pass 1: schema-only pruning (no Spark jobs)
    final case class Cand(id: String, dt: String, df: DataFrame,
                          vars: Seq[String], xCol: Option[String],
                          yCol: Option[String], tCol: Option[String])
    val cands = listDataIds().flatMap { id =>
      val dt = DataStore.dataTypeFor(id)
      if (dataType.exists(_ != dt)) None
      else {
        val df = open(id)
        val cols = df.columns.toSeq
        val vars = cols.filterNot(c => dims.contains(c.toLowerCase))
        if (varName.exists(v => !vars.contains(v))) None
        else {
          def axis(names: Seq[String]): Option[String] =
            names.find(n => cols.exists(_.equalsIgnoreCase(n)))
              .flatMap(n => cols.find(_.equalsIgnoreCase(n)))
          Some(Cand(id, dt, df, vars, axis(Seq("x", "lon", "longitude")),
            axis(Seq("y", "lat", "latitude")), axis(Seq("t", "time"))))
        }
      }
    }
    // pass 2: batched extent probes — each candidate becomes one
    // single-row agg branch (id, x0, x1, y0, y1, t0, t1; nulls for
    // absent axes), branches union per batch, ONE collect per batch
    val extents: Map[String, ((Option[(Double, Double)],
      Option[(Double, Double)], Option[(Double, Double)]))] =
      if (!needExtents) Map.empty
      else cands.filter(c => c.xCol.isDefined || c.yCol.isDefined ||
          c.tCol.isDefined)
        .grouped(DataStore.SearchProbeBatch).flatMap { batch =>
          val branches = batch.map { c =>
            def mm(nc: Option[String], lo: String, hi: String) = nc match {
              case Some(n) => Seq(min(col(n).cast("double")).as(lo),
                max(col(n).cast("double")).as(hi))
              case None => Seq(lit(null).cast("double").as(lo),
                lit(null).cast("double").as(hi))
            }
            val es = mm(c.xCol, "x0", "x1") ++ mm(c.yCol, "y0", "y1") ++
              mm(c.tCol, "t0", "t1")
            c.df.agg(es.head, es.tail: _*)
              .select(lit(c.id).as("id"), col("x0"), col("x1"),
                col("y0"), col("y1"), col("t0"), col("t1"))
          }
          // AQE off for the probe plan: every branch is a metadata-sized
          // single-row aggregate, and AQE would materialize each branch
          // as its own sub-job (measured: 11 jobs for a 5-entry batch);
          // non-adaptive, the whole batch is ONE job whose branch scans
          // schedule concurrently. Scoped via the cloned-session bridge,
          // never the shared conf.
          org.apache.spark.sql.graft.ConfBridge.withOverrides(
            branches.reduce(_ union _),
            Map("spark.sql.adaptive.enabled" -> "false"))
            .collect().map { r =>
            def pair(a: Int): Option[(Double, Double)] =
              if (r.isNullAt(a)) None
              else Some((r.getDouble(a), r.getDouble(a + 1)))
            r.getString(0) -> ((pair(1), pair(3), pair(5)))
          }
        }.toMap
    cands.flatMap { c =>
      val (xe, ye, te) =
        extents.getOrElse(c.id, (None, None, None))
      val bb = for (x <- xe; y <- ye) yield (x._1, y._1, x._2, y._2)
      val bboxOk = bbox.forall(q => bb.exists(b =>
        b._1 <= q._3 && b._3 >= q._1 && b._2 <= q._4 && b._4 >= q._2))
      val timeOk = timeRange.forall(q => te.exists(t =>
        t._1 <= q._2 && t._2 >= q._1))
      if (bboxOk && timeOk)
        Some(DataStore.DataDescriptor(c.id, c.dt, c.vars, bb, te))
      else None
    }
  }
}

object DataStore {

  /** Max extent-probe branches unioned into one searchData Spark job —
    * bounds plan size while keeping job count O(catalog / 64). */
  val SearchProbeBatch: Int = 64

  /** One search hit (reference DataDescriptor, descriptor.py): id, type,
    * variable names, optional spatial bbox (xMin, yMin, xMax, yMax) and
    * time extent over the entry's own coordinate units. */
  final case class DataDescriptor(
      dataId: String, dataType: String, varNames: Seq[String],
      bbox: Option[(Double, Double, Double, Double)],
      timeRange: Option[(Double, Double)])

  /** Reference data-type vocabulary (store.py DATASET_TYPE etc.): gridded
    * cubes are "dataset", vector layers "geodataframe", flat tables
    * "table". */
  def dataTypeFor(dataId: String): String = {
    val p = dataId.toLowerCase
    if (p.endsWith(".zarr") || p.endsWith(".nc") || p.endsWith(".levels") ||
      p.endsWith(".tif") || p.endsWith(".tiff") || p.endsWith(".jp2") ||
      p.endsWith(".refs.json")) "dataset"
    else if (p.endsWith(".shp") || p.endsWith(".geojson")) "geodataframe"
    else "table"
  }

  /** Infer a Spark format from a path/data-id extension (dsio.py guess). */
  def formatFor(path: String): String = {
    val p = path.toLowerCase
    if (p.endsWith(".parquet")) "parquet"
    else if (p.endsWith(".csv")) "csv"
    // fsspec reference documents by naming convention (a bare .json stays
    // a Spark JSON dataset — the two cannot be told apart by extension)
    else if (p.endsWith(".refs.json")) "kerchunk"
    else if (p.endsWith(".json") || p.endsWith(".geojson")) "json"
    else if (p.endsWith(".orc")) "orc"
    else if (p.endsWith(".nc")) "netcdf"
    else if (p.endsWith(".zarr")) "zarr"
    else if (p.endsWith(".tif") || p.endsWith(".tiff")) "geotiff"
    else if (p.endsWith(".jp2") || p.endsWith(".j2k")) "jpeg2000"
    else if (p.endsWith(".shp")) "shapefile"
    else "parquet" // directory cubes default to parquet
  }

  /** Mapping of recognized filename extensions to the accessor ids that
    * open / write them — `get_filename_extensions` (reference
    * store/fs/registry.py:256-293). GeoJSON opens through the JSON
    * feature-collection route but has no writer; kerchunk reference
    * documents are written by the scan* generators.
    */
  def filenameExtensions(accessorType: String = "openers"): Map[String, Seq[String]] = {
    require(accessorType == "openers" || accessorType == "writers",
      s"invalid accessor type '$accessorType' (openers|writers)")
    val openers = Map(
      ".parquet" -> Seq("parquet"), ".csv" -> Seq("csv"),
      ".refs.json" -> Seq("kerchunk"),
      ".json" -> Seq("json"), ".geojson" -> Seq("geojson"),
      ".orc" -> Seq("orc"), ".nc" -> Seq("netcdf"), ".zarr" -> Seq("zarr"),
      ".tif" -> Seq("geotiff"), ".tiff" -> Seq("geotiff"),
      ".jp2" -> Seq("jpeg2000"),
      ".shp" -> Seq("shapefile"), ".levels" -> Seq("levels"))
    if (accessorType == "openers") openers
    else openers - ".geojson"
  }

  /** open_dataset with format inference — the graft-native binary formats
    * (NetCDF classic, GeoTIFF, Shapefile, GeoJSON feature collections)
    * route to their sources; everything else goes through Spark readers.
    */
  def openDataset(spark: SparkSession, path: String): DataFrame =
    // Sentinel-3 products are recognized by directory layout, not
    // extension (sentinel3.py:88-99) — probe before extension inference
    if (Sentinel3Source.isSentinel3Product(path))
      Sentinel3Source.open(spark, path)
    else formatFor(path) match {
      case "netcdf" =>
        // single read+decode: pick the first data variable — one whose
        // name is not a dimension AND that has dimensions at all (a
        // 0-dim CF grid-mapping variable like "crs" is metadata, not
        // data) — from the parsed file and decode that
        val nc = NetcdfSource.read(path)
        val dataVar = nc.vars.find(v =>
          v.dimIds.nonEmpty && !nc.dims.exists(_.name == v.name))
          .getOrElse(throw new IllegalArgumentException(s"$path: no data variable"))
        NetcdfSource.readCube(spark, nc, dataVar.name)
      case "geotiff" => GeoTiffSource.readRaster(spark, path)
      case "jpeg2000" => graft.sources.jp2.Jp2Source.readRaster(spark, path)
      case "shapefile" => ShapefileSource.readFeatures(spark, path)
      case "zarr" =>
        // data variables = arrays that have dimensions and are not their
        // own 1-D coordinate (0-dim arrays, CF grid-mapping variables, are
        // metadata). When they share one grid (the writeCubeVars layout)
        // the WHOLE dataset opens as one wide DataFrame, like the
        // reference's open_dataset; a mixed-grid group opens its first
        // data variable. v2 and v3 groups follow the same rule.
        val v3 = ByteStore.current.exists(s"$path/zarr.json")
        val names =
          if (v3) ZarrV3Source.listArrays(path) else ZarrSource.listArrays(path)
        val heads = names.map { v =>
          v -> (if (v3) ZarrV3Source.openArray(s"$path/$v")
                else ZarrSource.openArray(s"$path/$v"))
        }.filter { case (v, za) => za.dims.nonEmpty && za.dims != Seq(v) }
        require(heads.nonEmpty, s"$path: no data variable")
        val lead = heads.head._2
        val shared = heads.forall { case (_, z) =>
          z.dims == lead.dims && z.shape == lead.shape && z.chunks == lead.chunks
        }
        val vars = if (shared) heads.map(_._1) else Seq(heads.head._1)
        spark.read.format("zarr").option("vars", vars.mkString(",")).load(path)
      case "kerchunk" =>
        // metadata keys only: the data-chunk refs stay on disk until the
        // scan resolves the chunks that survive pruning
        val meta = KerchunkSource.parseSelective(path,
          k => k.substring(k.lastIndexOf('/') + 1).startsWith(".z"))
        val dataVar = KerchunkSource.listArrays(meta)
          .find { v =>
            val za = KerchunkSource.openArray(meta, v)
            za.dims.nonEmpty && za.dims != Seq(v)
          }
          .getOrElse(throw new IllegalArgumentException(s"$path: no data variable"))
        spark.read.format("kerchunk").option("vars", dataVar).load(path)
      case fmt =>
        val r = spark.read.format(fmt)
        (if (fmt == "csv") r.option("header", "true").option("inferSchema", "true")
         else r).load(path)
    }

  /** `open_dataset` + `GridMapping.from_dataset` fused — the reference's
    * most common opening flow for gridded data: the decoded frame PLUS
    * its CF-auto-derived grid ([[graft.cube.CfGridMapping]]), so nothing
    * downstream needs a hand-built GridMapping. NetCDF and Zarr carry CF
    * metadata; GeoTIFF derives from ModelPixelScale/Tiepoint + the
    * GeoKey CRS; other formats decline loudly. Returns the
    * CoordsMapping so the caller can
    * route regular grids straight to the affine paths and irregular
    * ones through `toRegular` + rectify. */
  def openGrid(spark: SparkSession, path: String)
      : (DataFrame, graft.cube.CfGridMapping.CoordsMapping) =
    formatFor(path) match {
      case "netcdf" =>
        val nc = NetcdfSource.read(path)
        val dataVar = nc.vars.find(v =>
          v.dimIds.nonEmpty && !nc.dims.exists(_.name == v.name))
          .getOrElse(throw new IllegalArgumentException(
            s"$path: no data variable"))
        (NetcdfSource.readCube(spark, nc, dataVar.name),
          graft.cube.CfGridMapping.fromNetcdf(nc))
      case "zarr" =>
        (openDataset(spark, path), graft.cube.CfGridMapping.fromZarr(path))
      case "geotiff" =>
        // georeferencing from ModelPixelScale/Tiepoint, CRS from the
        // GeoKey directory — the rioxarray-open route for rasters
        (GeoTiffSource.readRaster(spark, path), GeoTiffSource.gridOf(path))
      case fmt => throw new IllegalArgumentException(
        s"openGrid derives CF grid mappings from netcdf/zarr/geotiff " +
          s"metadata; '$fmt' has none — open with openDataset and " +
          "supply the grid")
    }

  /** write_dataset with format inference. DataFrame writes go through Spark
    * writers; the binary raster/vector formats have their own typed writers
    * (NetcdfSource.write / GeoTiffSource.write / ShapefileSource
    * .writeFeatures) because their layouts aren't row-shaped.
    */
  def writeDataset(df: DataFrame, path: String, mode: String = "overwrite"): Unit = {
    val fmt = formatFor(path)
    require(!Set("netcdf", "geotiff", "shapefile", "zarr", "kerchunk").contains(fmt),
      s"use the typed writer for $fmt (Netcdf/GeoTiff/Shapefile/Zarr Source" +
        ".write; kerchunk refs come from KerchunkSource.scanZarr/scanNetcdf)")
    val w = df.write.format(fmt).mode(mode)
    (if (fmt == "csv") w.option("header", "true") else w).save(path)
  }
}

/** Filesystem-backed store rooted at a directory: data ids are the entries'
  * base names (mirrors FsDataStore listing).
  */
final class FsDataStore(spark: SparkSession, root: String) extends DataStore {

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  override def listDataIds(): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filterNot(_.startsWith("_")).sorted.toSeq
  }

  override def describe(dataId: String): String =
    open(dataId).schema.treeString

  override def open(dataId: String): DataFrame =
    DataStore.openDataset(spark, s"$root/$dataId")

  override def write(dataId: String, df: DataFrame, mode: String = "error"): Unit =
    DataStore.writeDataset(df, s"$root/$dataId", mode)
}

/** In-memory store over temp views (dsio.py:308-356 memory IO). */
final class MemoryDataStore(spark: SparkSession) extends DataStore {
  private val ids = scala.collection.mutable.SortedSet.empty[String]

  override def listDataIds(): Seq[String] = ids.toSeq
  override def describe(dataId: String): String = open(dataId).schema.treeString
  override def open(dataId: String): DataFrame = spark.table(dataId)
  override def write(dataId: String, df: DataFrame, mode: String = "error"): Unit = {
    require(mode != "error" || !ids.contains(dataId), s"$dataId exists")
    df.createOrReplaceTempView(dataId)
    ids += dataId
  }
}
