package graft

import graft.cube.{Cube, GridMapping}
import graft.sources.LevelStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs.tmpDir

class PyramidRewriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  /** Dense 8×8 single-slice cube with v = row-major index, pyramid L0..L2. */
  private def buildPyramid(): String = {
    import spark.implicits._
    val root = tmpDir("pyr")
    val df = (0 until 64).map { k =>
      ("2024-01-01", (k / 8) + 0.5, (k % 8) + 0.5, k.toDouble)
    }.toDF("time", "y", "x", "v")
      .withColumn("time", col("time").cast("timestamp"))
    LevelStore.writeLevels(
      Cube(df, GridMapping.regular((8L, 8L), (0.0, 0.0), (1.0, 1.0))), root, 2)
    root
  }

  /** Scan paths of the optimized plan (plan toString omits locations). */
  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.mkString(",")
        case _ => ""
      }
    }.mkString(";")
  }

  test("format(levels): resolution and level options pick the right table") {
    val root = buildPyramid()
    // base by default; explicit level; resolution -> coarsest fine-enough
    assert(spark.read.format("levels").load(root).count() === 64)
    assert(spark.read.format("levels").option("level", "1").load(root)
      .count() === 16)
    val byRes = spark.read.format("levels").option("resolution", "2.5").load(root)
    assert(byRes.count() === 16) // L1 (res 2) is the coarsest <= 2.5
    // finer than the base clamps to L0; far coarser picks the top level
    assert(spark.read.format("levels").option("resolution", "0.1").load(root)
      .count() === 64)
    assert(spark.read.format("levels").option("resolution", "100").load(root)
      .count() === 4)
    // values come from the actual level table
    assert(byRes.agg(sum("v")).head.getDouble(0) ===
      spark.read.parquet(s"$root/L1").agg(sum("v")).head.getDouble(0))
    // the relation is the level's parquet relation: PyramidRewrite still
    // composes on top (block-mean over the base retargets to L2)
    val q = spark.read.format("levels").load(root)
      .groupBy(floor(col("x") / 4.0).as("bi"), floor(col("y") / 4.0).as("bj"))
      .agg(avg(col("v")).as("v"))
    assert(planOf(q).contains("/L2"), planOf(q))
    // loud errors: both options, out-of-range level, missing sidecar
    val e1 = intercept[Exception](spark.read.format("levels")
      .option("level", "1").option("resolution", "2").load(root).count())
    assert(e1.getMessage.contains("not both"), e1.getMessage)
    val e2 = intercept[Exception](spark.read.format("levels")
      .option("level", "9").load(root).count())
    assert(e2.getMessage.contains("outside 0..2"), e2.getMessage)
    val bare = tmpDir("nopyr")
    val e3 = intercept[Exception](
      spark.read.format("levels").load(bare).count())
    assert(e3.getMessage.contains("_levels.json"), e3.getMessage)
  }

  test("block-mean at a level resolution retargets the scan to that level") {
    val root = buildPyramid()
    val q = spark.read.parquet(s"$root/L0")
      .groupBy(floor(col("x") / 4.0).as("bi"), floor(col("y") / 4.0).as("bj"))
      .agg(avg(col("v")).as("v"))
    assert(planOf(q).contains("/L2"), planOf(q))
    assert(!planOf(q).contains("/L0"), planOf(q))
    // values = the L2 table verbatim (avg over exactly one L2 cell)
    val got = q.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1))
    val l2 = spark.read.parquet(s"$root/L2").collect().map(r =>
      (math.floor(r.getAs[Double]("x") / 4.0).toLong,
        math.floor(r.getAs[Double]("y") / 4.0).toLong,
        r.getAs[Double]("v"))).sortBy(t => (t._2, t._1))
    assert(got.toSeq == l2.toSeq)
    // and = the direct L0 aggregation (dense grid → mathematically equal)
    val direct = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L)).map { case (bi, bj) =>
      val vs = for (j <- 0 until 8; i <- 0 until 8
                    if i / 4 == bi && j / 4 == bj) yield (j * 8 + i).toDouble
      (bi, bj, vs.sum / vs.length)
    }.sortBy(t => (t._2, t._1))
    got.zip(direct).foreach { case ((gi, gj, gv), (di, dj, dv)) =>
      assert(gi == di && gj == dj && math.abs(gv - dv) < 1e-9)
    }
  }

  test("aggregator-aware: min/max/sum retarget onto a MATCHING pyramid only") {
    import spark.implicits._
    val root = tmpDir("pyrmin")
    val df = (0 until 64).map { k =>
      ("2024-01-01", (k / 8) + 0.5, (k % 8) + 0.5, k.toDouble, 64.0 - k)
    }.toDF("time", "y", "x", "v", "w")
      .withColumn("time", col("time").cast("timestamp"))
    // v rolls up with min, w with max — recorded in _levels.json
    LevelStore.writeLevels(
      Cube(df, GridMapping.regular((8L, 8L), (0.0, 0.0), (1.0, 1.0))), root, 2,
      methods = Seq("v" -> "min", "w" -> "max"))
    val meta = LevelStore.readMeta(root).get
    assert(meta.agg === Map("v" -> "min", "w" -> "max"))
    def block(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(floor(col("x") / 4.0).as("bi"), floor(col("y") / 4.0).as("bj"))
    // min(v) + max(w) both match their recorded aggregators -> L2 scan
    val q = block(spark.read.parquet(s"$root/L0"))
      .agg(min(col("v")).as("v"), max(col("w")).as("w"))
    assert(planOf(q).contains("/L2"), planOf(q))
    // min/max compose progressively, so the retargeted answer IS the
    // direct block answer
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3))).sortBy(t => (t._1, t._2))
    val direct = (for (bj <- 0 to 1; bi <- 0 to 1) yield {
      val vs = for (j <- 0 until 8; i <- 0 until 8
                    if i / 4 == bi && j / 4 == bj) yield (j * 8 + i).toDouble
      (bi.toLong, bj.toLong, vs.min, 64.0 - vs.min)
    }).sortBy(t => (t._1, t._2))
    assert(got.toSeq === direct)
    // avg over a MIN-built pyramid bails: the base scan stands
    val bail = block(spark.read.parquet(s"$root/L0")).agg(avg(col("v")).as("v"))
    assert(planOf(bail).contains("/L0"), planOf(bail))
    // min over the MAX-built variable bails too
    val cross = block(spark.read.parquet(s"$root/L0")).agg(min(col("w")).as("w"))
    assert(planOf(cross).contains("/L0"), planOf(cross))
    // count never retargets (coarser levels have fewer cells)
    val cnt = block(spark.read.parquet(s"$root/L0")).agg(count(col("v")).as("n"))
    assert(planOf(cnt).contains("/L0"), planOf(cnt))
    // a mean pyramid (the pre-aggregator default sidecar) still bails for
    // min and fires for avg — q_pyramid_rewrite's behavior is unchanged
    val meanRoot = buildPyramid()
    val mq = block(spark.read.parquet(s"$meanRoot/L0")).agg(min(col("v")).as("v"))
    assert(planOf(mq).contains("/L0"), planOf(mq))
    // count pyramids are refused at build time
    val e = intercept[IllegalArgumentException](
      LevelStore.writeLevels(
        Cube(df, GridMapping.regular((8L, 8L), (0.0, 0.0), (1.0, 1.0))),
        tmpDir("pyrcnt"), 1, methods = Seq("v" -> "count")))
    assert(e.getMessage.contains("progressively"), e.getMessage)
  }

  test("grouping by time too still rewrites; offset origin form matches") {
    val root = buildPyramid()
    val q = spark.read.parquet(s"$root/L0")
      .groupBy(col("time"),
        floor((col("x") - 0.0) / 2.0).as("bi"),
        floor(col("y") / 2.0).as("bj"))
      .agg(avg(col("v")).as("v"))
    assert(planOf(q).contains("/L1"), planOf(q))
    assert(q.count() == 16)
  }

  test("no rewrite: count aggregate would change meaning") {
    val root = buildPyramid()
    val q = spark.read.parquet(s"$root/L0")
      .groupBy(floor(col("x") / 4.0), floor(col("y") / 4.0))
      .agg(avg(col("v")), count(lit(1)))
    assert(planOf(q).contains("/L0"), planOf(q))
  }

  test("no rewrite: block size is not a pyramid resolution") {
    val root = buildPyramid()
    val q = spark.read.parquet(s"$root/L0")
      .groupBy(floor(col("x") / 3.0), floor(col("y") / 3.0))
      .agg(avg(col("v")))
    assert(planOf(q).contains("/L0"), planOf(q))
  }

  test("no rewrite: misaligned block origin") {
    val root = buildPyramid()
    val q = spark.read.parquet(s"$root/L0")
      .groupBy(floor((col("x") - 1.0) / 4.0), floor(col("y") / 4.0))
      .agg(avg(col("v")))
    assert(planOf(q).contains("/L0"), planOf(q))
  }

  test("no rewrite: plain parquet dir without the _levels.json sidecar") {
    import spark.implicits._
    val root = tmpDir("nopyr")
    Seq((0.5, 0.5, 1.0), (1.5, 0.5, 2.0)).toDF("y", "x", "v")
      .write.parquet(s"$root/L0")
    val q = spark.read.parquet(s"$root/L0")
      .groupBy(floor(col("x") / 2.0), floor(col("y") / 2.0))
      .agg(avg(col("v")))
    assert(planOf(q).contains("/L0"), planOf(q))
  }

  test("fires through a time-only Filter (levels preserve time)") {
    val root = buildPyramid()
    val q = spark.read.parquet(s"$root/L0")
      .filter(col("time") === lit("2024-01-01").cast("timestamp"))
      .groupBy(floor(col("x") / 4.0).as("bi"), floor(col("y") / 4.0).as("bj"))
      .agg(avg(col("v")).as("v"))
    assert(planOf(q).contains("/L2"), planOf(q))
    assert(q.count() == 4)
  }

  test("fires through a block-aligned bbox Filter; values = filtered L2") {
    val root = buildPyramid()
    val q = spark.read.parquet(s"$root/L0")
      .filter(col("x") >= 4.0 && col("y") < 4.0)
      .groupBy(floor(col("x") / 4.0).as("bi"), floor(col("y") / 4.0).as("bj"))
      .agg(avg(col("v")).as("v"))
    assert(planOf(q).contains("/L2"), planOf(q))
    assert(!planOf(q).contains("/L0"), planOf(q))
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exactly one surviving block (bi=1, bj=0), its value = the L2 cell
    assert(got.length == 1 && got.head._1 == 1L && got.head._2 == 0L)
    val l2 = spark.read.parquet(s"$root/L2")
      .filter(col("x") >= 4.0 && col("y") < 4.0).collect()
    assert(l2.length == 1 &&
      math.abs(l2.head.getAs[Double]("v") - got.head._3) < 1e-12)
  }

  test("no rewrite: bbox edge off the block grid would split a block") {
    val root = buildPyramid()
    val q = spark.read.parquet(s"$root/L0")
      .filter(col("x") >= 3.0)
      .groupBy(floor(col("x") / 4.0), floor(col("y") / 4.0))
      .agg(avg(col("v")))
    assert(planOf(q).contains("/L0"), planOf(q))
  }

  test("no rewrite: data-variable Filter reweights block means") {
    val root = buildPyramid()
    val q = spark.read.parquet(s"$root/L0")
      .filter(col("v") > 10.0)
      .groupBy(floor(col("x") / 4.0), floor(col("y") / 4.0))
      .agg(avg(col("v")))
    assert(planOf(q).contains("/L0"), planOf(q))
  }

  test("rewritten plan executes after an action (AQE path) identically") {
    val root = buildPyramid()
    val q = spark.read.parquet(s"$root/L0")
      .groupBy(floor(col("x") / 2.0).as("bi"), floor(col("y") / 2.0).as("bj"))
      .agg(avg(col("v")).as("v"))
    val rows = q.collect()
    assert(rows.length == 16)
    val sum = rows.map(_.getDouble(2)).sum
    assert(math.abs(sum - (0 until 64).map(_.toDouble).sum / 4) < 1e-9)
  }

  test("planning a filtered overview opens the target level without a job") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = buildPyramid()
    val base = spark.read.parquet(s"$root/L0")
    val (plan, jobs) = JobCount.of(spark) {
      base.filter(col("time") === lit("2024-01-01").cast("timestamp") &&
          col("x") >= 4.0 && col("y") < 4.0)
        .groupBy(floor(col("x") / 4.0).as("bi"), floor(col("y") / 4.0).as("bj"))
        .agg(avg(col("v")).as("v"))
        .queryExecution.executedPlan
    }
    assert(jobs == 0, s"$jobs jobs to plan the overview")
    val scans = (plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case f: FileSourceScanExec =>
      f.relation.location.rootPaths.mkString(",")
    }
    assert(scans.length == 1 && scans.head.endsWith("/L2"), scans)
  }

  test("a sidecar without a recorded schema still opens and rewrites") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    val root = buildPyramid()
    // the sidecar format written before schemas were recorded
    val f = new java.io.File(root, LevelStore.MetaFileName)
    val mapper = new ObjectMapper()
    val doc = mapper.readTree(f).asInstanceOf[ObjectNode]
    doc.remove("schema")
    doc.get("levels").forEach(l => { l.asInstanceOf[ObjectNode].remove("schema"); () })
    mapper.writeValue(f, doc)
    val meta = LevelStore.readMeta(root).get
    assert((0 to 2).forall(meta.levelSchema(_).isEmpty), meta)
    for (l <- 0 to 2) {
      val df = LevelStore.openLevel(spark, root, l)
      assert(df.schema == spark.read.parquet(s"$root/L$l").schema)
      assert(df.count() == 64 >> (2 * l))
    }
    val q = spark.read.parquet(s"$root/L0")
      .groupBy(floor(col("x") / 4.0).as("bi"), floor(col("y") / 4.0).as("bj"))
      .agg(avg(col("v")).as("v"))
    assert(planOf(q).contains("/L2"), planOf(q))
    assert(q.count() == 4)
  }
}
