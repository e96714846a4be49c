package graft.sources.zarr

import graft.sources.LevelStore

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider}

/** `spark.read.format("levels")` — the relational face of the `.levels`
  * multi-resolution pyramid ([[LevelStore]]; reference
  * `mldataset/abc.py:136-149`): one pyramid directory, opened AT the
  * right resolution.
  *
  *   `spark.read.format("levels").load("cube.levels")`                — base level
  *   `.option("level", "2")`                                          — explicit level
  *   `.option("resolution", "0.25")`                                  — coarsest level still ≥ the asked resolution
  *
  * The provider resolves the level against the pyramid's `_levels.json`
  * sidecar on the driver and hands back that level's parquet relation —
  * so every native parquet optimization (vectorized scan, predicate
  * pushdown, column pruning) applies untouched, and because the relation
  * IS the level's `HadoopFsRelation`, [[graft.plans.PyramidRewrite]]
  * still composes on top: a block-mean aggregate over a
  * `format("levels")` table retargets to an even coarser level when the
  * block grid matches one. Level selection is the reference's
  * level-for-resolution rule: the coarsest level whose cell size is
  * still at most the requested resolution (never coarser than asked).
  */
final class LevelsSource extends RelationProvider with DataSourceRegister {

  override def shortName(): String = "levels"

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      "levels needs a path (spark.read.format(\"levels\").load(pyramidDir))"))
    val spark: SparkSession = sqlContext.sparkSession
    val meta = LevelStore.readMeta(root,
      spark.sparkContext.hadoopConfiguration).getOrElse(
      throw new IllegalArgumentException(
        s"$root: no ${LevelStore.MetaFileName} sidecar — not a .levels " +
          "pyramid (write one with LevelStore.writeLevels)"))
    val maxLevel = meta.levels.length - 1
    val level = (parameters.get("level"), parameters.get("resolution")) match {
      case (Some(l), Some(_)) => throw new IllegalArgumentException(
        s"$root: give either level or resolution, not both (level=$l)")
      case (Some(l), None) =>
        val lv = l.toInt
        require(lv >= 0 && lv <= maxLevel,
          s"$root: level $lv outside 0..$maxLevel")
        lv
      case (None, Some(r)) =>
        // the reference rule (mldataset/abc.py:136-149): advance past a
        // level only when BOTH x_res and y_res exceed the request — on an
        // anisotropic pyramid (yRes != xRes) an x-only test would resolve
        // to a coarser level than the reference
        LevelStore.levelForResolutionXY(
          meta.levels.map(l => (l.xRes, l.yRes)), r.toDouble)
      case (None, None) => 0
    }
    LevelStore.openLevel(spark, root, level, Some(meta)).queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr.relation }
      .getOrElse(throw new IllegalStateException(
        s"$root/L$level: parquet level did not resolve to a relation"))
  }
}
