package graft.sources

import graft.cube.{Cube, GridMapping}
import graft.operators.SubsampleOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** `.levels`-style multi-resolution pyramid store (reference
  * mldataset/fs.py, level.py:139-258): one Parquet table per level,
  * `L0..Ln`, each level a 2×2 mean aggregation of the previous — the
  * materialized-aggregate form of MultiLevelDataset.
  *
  * Level k+1's plan aggregates level k's plan (progressive 2×2 blocks),
  * but no written level is read back: each level write replays its whole
  * lineage from the input cube. The writes therefore do not depend on
  * each other, and [[writeLevels]] runs them concurrently, one thread per
  * level, so a pyramid costs about its slowest level rather than the sum
  * of all levels' jobs.
  *
  * The `_levels.json` sidecar records each level's schema (every field
  * nullable, as Parquet schema inference returns it), and every level is
  * written in L0's column order, so levels that share L0's types share
  * one recorded schema. [[openLevel]] reads with it and so runs no
  * inference job; open a level only through it.
  */
object LevelStore {

  private def levelPath(root: String, level: Int) = s"$root/L$level"

  /** Sidecar name of the per-pyramid grid metadata (the relational analog
    * of the reference's `.levels` metadata): column bindings + per-level
    * grid mapping, consumed by [[graft.plans.PyramidRewrite]] to retarget
    * block-aggregation scans to the matching coarser level.
    */
  val MetaFileName = "_levels.json"

  /** `schema` is set only where this level's schema differs from the
    * pyramid's shared one (a variable whose aggregate changes its type, or
    * one no level aggregation keeps). */
  final case class LevelMeta(level: Int, xMin: Double, yMin: Double,
                             yMax: Double, xRes: Double, yRes: Double,
                             yDown: Boolean, schema: Option[StructType] = None)
  /** `agg` records the per-variable level aggregation (mean/min/max/...)
    * so [[graft.plans.PyramidRewrite]] can retarget exactly the matching
    * aggregate and bail on any other; absent entries mean "mean" (the
    * pre-aggregator-aware sidecar format). `schema` is L0's schema, shared
    * by every level without its own; None for a sidecar written before
    * schemas were recorded. */
  final case class PyramidMeta(xCol: String, yCol: String, timeCol: String,
                               levels: Seq[LevelMeta],
                               agg: Map[String, String] = Map.empty,
                               schema: Option[StructType] = None) {
    /** The recorded schema of `level`, None when the sidecar has none. */
    def levelSchema(level: Int): Option[StructType] =
      levels.lift(level).flatMap(_.schema).orElse(schema)
  }

  /** The schema Parquet inference returns for a file written from `t`. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case o => o
  }

  private def writeMeta(root: String, cube: Cube, gms: Seq[GridMapping],
                        schemas: Seq[StructType],
                        agg: Map[String, String]): Unit = {
    val levels = gms.zip(schemas).zipWithIndex.map { case ((g, sc), l) =>
      val own = if (sc == schemas.head) "" else s""","schema":${sc.json}"""
      s"""{"level":$l,"xMin":${g.xMin},"yMin":${g.yMin},"yMax":${g.yMax},""" +
        s""""xRes":${g.xRes},"yRes":${g.yRes},"yDown":${g.yDown}$own}"""
    }
    val aggJson = agg.toSeq.sortBy(_._1)
      .map { case (v, m) => s""""$v":"$m"""" }.mkString(",")
    val json =
      s"""{"xCol":"${cube.xCol}","yCol":"${cube.yCol}","timeCol":"${cube.timeCol}",""" +
        s""""agg":{$aggJson},"schema":${schemas.head.json},""" +
        s""""levels":[${levels.mkString(",")}]}"""
    // through ByteStore: local pyramids keep the java.nio path, scheme'd
    // roots (s3g://...) write the sidecar as an object next to the levels
    ByteStore.current.write(s"$root/$MetaFileName", json.getBytes("UTF-8"))
  }

  /** Parse a pyramid's `_levels.json`; None when the sidecar is absent
    * (a plain parquet directory that merely looks like `.../L0`). Reads
    * through the Hadoop filesystem of the root's scheme, so file:/s3a:/
    * hdfs: pyramids all resolve.
    */
  def readMeta(root: String,
               conf: org.apache.hadoop.conf.Configuration =
                 new org.apache.hadoop.conf.Configuration()): Option[PyramidMeta] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$MetaFileName")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = m.readTree(bytes)
    def schemaOf(node: com.fasterxml.jackson.databind.JsonNode) =
      Option(node.get("schema")).map(s =>
        DataType.fromJson(s.toString).asInstanceOf[StructType])
    val levels = (0 until n.get("levels").size()).map { i =>
      val l = n.get("levels").get(i)
      LevelMeta(l.get("level").asInt, l.get("xMin").asDouble,
        l.get("yMin").asDouble, l.get("yMax").asDouble,
        l.get("xRes").asDouble, l.get("yRes").asDouble,
        l.get("yDown").asBoolean, schemaOf(l))
    }
    val agg = Option(n.get("agg")).filter(_.isObject).map { a =>
      import scala.jdk.CollectionConverters._
      a.properties.iterator.asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }.getOrElse(Map.empty[String, String])
    Some(PyramidMeta(n.get("xCol").asText, n.get("yCol").asText,
      n.get("timeCol").asText, levels, agg, schemaOf(n)))
  }

  /** Build and write levels 0..maxLevel; returns the per-level grid
    * mappings. `methods` picks the per-variable level aggregation (the
    * subsampling.py AGG_METHODS — must compose progressively, since level
    * k+1 derives from level k: mean/min/max/sum/first qualify, count does
    * not); empty = `mean` for every numeric variable (the float default —
    * subsampling.py auto rule) and `first` in row-major block order for
    * every other one (a string class label is carried, not dropped). The
    * chosen aggregators are recorded in the `_levels.json` sidecar so the
    * pyramid-rewrite rule retargets only MATCHING aggregates.
    *
    * The level writes run at once, each on its own thread that carries the
    * caller's Spark local properties (job group, description, SQL
    * execution) and active session, so every level job is attributed like
    * a job the caller ran itself. The sidecar is written after every level
    * has; when a level fails, the call waits for the others to end, writes
    * no sidecar and rethrows the first level's failure.
    */
  def writeLevels(cube: Cube, root: String, maxLevel: Int,
                  methods: Seq[(String, String)] = Seq.empty): Seq[GridMapping] = {
    val chosen = methodsFor(cube, methods)
    val levels = levelCubes(cube, maxLevel, chosen)
    concurrently(cube.df.sparkSession, levels.zipWithIndex.map { case (c, l) =>
      () => c.df.write.mode("overwrite").parquet(levelPath(root, l))
    })
    val gms = levels.map(_.gm)
    writeMeta(root, cube, gms,
      levels.map(c => nullable(c.df.schema).asInstanceOf[StructType]),
      chosen.toMap)
    gms
  }

  /** `methods`, or the default rule of [[writeLevels]], checked. */
  private def methodsFor(cube: Cube,
                         methods: Seq[(String, String)]): Seq[(String, String)] = {
    val chosen: Seq[(String, String)] =
      if (methods.nonEmpty) methods
      else cube.varNames.map(v => v -> (cube.df.schema(v).dataType match {
        case _: org.apache.spark.sql.types.NumericType => "mean"
        case _ => "first"
      }))
    require(chosen.map(_._1).distinct.length == chosen.length,
      "one aggregation method per variable")
    require(!chosen.exists(_._2 == "count"),
      "count does not compose progressively (level k+1 would count level-k " +
        "cells, not base rows) — record counts as a summed variable instead")
    chosen
  }

  /** The cubes [[writeLevels]] writes as levels 0..maxLevel: level k+1's
    * plan is the 2×2 block aggregation of level k's, in L0's column order. */
  private[graft] def levelCubes(cube: Cube, maxLevel: Int,
                                methods: Seq[(String, String)] = Seq.empty): Seq[Cube] = {
    val chosen = methodsFor(cube, methods)
    val order = cube.df.columns
    (1 to maxLevel).scanLeft(cube) { (cur, _) =>
      val (agg, gm2) = SubsampleOps.subsample(cur, 2, chosen)
      val df2 = chosen.foldLeft(agg) { case (d, (v, m)) =>
        d.withColumnRenamed(s"${v}_$m", v)
      }
        .withColumn(cur.xCol, gm2.xExpr(col("block_i")))
        .withColumn(cur.yCol, gm2.yExpr(col("block_j")))
      Cube(df2.select(order.filter(df2.columns.contains).map(col).toIndexedSeq: _*),
        gm2, cur.timeCol, cur.yCol, cur.xCol)
    }
  }

  /** Run `bodies` at once, one per-call thread each, under the caller's
    * local properties and active session; returns once every body has
    * ended and then rethrows the first failure (in `bodies` order), the
    * others suppressed into it. */
  private def concurrently(spark: SparkSession, bodies: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bodies.length,
      (r: Runnable) => {
        val t = new Thread(r, "graft-levels")
        t.setDaemon(true)
        t
      })
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val outcomes = try {
      bodies.map(b => org.apache.spark.sql.execution.SQLExecution
        .withThreadLocalCaptured(session, pool)(b()))
        .map(f => scala.util.Try(f.join()))
    } finally pool.shutdown()
    val failures = outcomes.collect { case scala.util.Failure(e) =>
      e match {
        case c: java.util.concurrent.CompletionException if c.getCause != null =>
          c.getCause
        case other => other
      }
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** Level `level` of the pyramid at `root`, read with the schema its
    * sidecar records, so opening runs no Spark job; Parquet schema
    * inference (one job) only for a sidecar without a recorded schema.
    * `meta` is the sidecar when the caller has already read it.
    */
  def openLevel(spark: SparkSession, root: String, level: Int,
                meta: Option[PyramidMeta] = None): DataFrame = {
    val schema = meta.orElse(readMeta(root, spark.sparkContext.hadoopConfiguration))
      .flatMap(_.levelSchema(level))
    schema.fold(spark.read)(spark.read.schema).parquet(levelPath(root, level))
  }

  def listLevels(spark: SparkSession, root: String): Seq[Int] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .collect { case s if s.matches("L\\d+") => s.drop(1).toInt }.sorted.toSeq
  }

  /** Pyramid-level pruning: the coarsest level still at least as fine as
    * the requested resolution (mldataset/abc.py:136-149 — a level is
    * passed over only when BOTH its x and y resolutions exceed the
    * request, so anisotropic pyramids resolve like the reference).
    */
  def levelForResolution(gms: Seq[GridMapping], res: Double): Int =
    levelForResolutionXY(gms.map(g => (g.xRes, g.yRes)), res)

  /** The shared (xRes, yRes) form — also serves `format("levels")`. */
  def levelForResolutionXY(rs: Seq[(Double, Double)], res: Double): Int = {
    val viol = rs.indexWhere { case (xr, yr) =>
      xr > res + 1e-12 && yr > res + 1e-12
    }
    if (viol < 0) rs.length - 1 else math.max(0, viol - 1)
  }
}

/** ComputedMultiLevelDataset (reference mldataset/computed.py:24-160):
  * pyramid levels defined by a user FUNCTION instead of materialized
  * tables — each level is a lazy view `fn(base, level)`, memoized per
  * level. Levels stay logical plans until an action, so Catalyst fuses the
  * level derivation with whatever query runs on top.
  */
final class ComputedLevels(base: Cube, maxLevel: Int,
                           fn: (Cube, Int) => Cube) {
  private val cache = scala.collection.concurrent.TrieMap.empty[Int, Cube]

  def numLevels: Int = maxLevel + 1

  def level(l: Int): Cube = {
    require(l >= 0 && l <= maxLevel, s"level $l outside 0..$maxLevel")
    if (l == 0) base else cache.getOrElseUpdate(l, fn(base, l))
  }

  def levelForResolution(res: Double): Int =
    LevelStore.levelForResolution((0 to maxLevel).map(level(_).gm), res)
}
