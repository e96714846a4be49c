package graft

import graft.sources.ZarrV3Source
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.TestDirs.tmpDir

/** Sub-chunk zone maps (round-16, stats format addition): sharded v3
  * cubes written with `stats = true` carry per-INNER-chunk moment rows
  * (`"<key>#<ord>"`), and a value-filtered scan over them fetches only
  * the shard index plus the ADMITTED inner chunks' byte ranges
  * (ZarrV3Source.decodeShardSelective) — finer-than-chunk IO pruning,
  * proven by corrupting every excluded inner chunk's bytes in place. */
class SubchunkStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.conf.set("spark.sql.files.minPartitionNum", "100000")
    s
  }

  /** 16×16 grid, 8×8 shards (4), 2×2 inner chunks (16 per shard), RAW
    * inner chain so inner chunk `ord` occupies bytes [32·ord, 32·ord+32)
    * of its shard. Values are BLOCK-ALIGNED: cell (y, x) carries
    * B + frac/4 with B = ⌊y/2⌋·8 + ⌊x/2⌋ — every inner chunk's value
    * range [B, B+0.75] is disjoint from every other's, so block-level
    * admission is exact while SHARD-level ranges overlap across shards
    * (the case chunk-granular zone maps cannot prune). */
  private def writeFixture(): String = {
    import spark.implicits._
    val y = Array.tabulate(16)(_ + 0.5)
    val x = Array.tabulate(16)(_ + 0.5)
    val df = (for { yi <- y; xi <- x } yield {
      val (j, i) = ((yi - 0.5).toInt, (xi - 0.5).toInt)
      val b = (j / 2) * 8 + (i / 2)
      (yi, xi, b + ((j % 2) * 2 + (i % 2)) * 0.25)
    }).toSeq.toDF("y", "x", "v")
    val g = s"${tmpDir("subchunk")}/cube.zarr"
    ZarrV3Source.writeCube(df, g, "v", Seq("y" -> y, "x" -> x),
      chunks = Seq(8, 8), steps = Seq(), shardInner = Some(Seq(2, 2)),
      stats = true)
    g
  }

  test("write-time block rows land beside the shard rows") {
    val g = writeFixture()
    val doc = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$g/_graft_stats.json")), "UTF-8")
    assert(doc.contains("\"0.0\""))
    assert(doc.contains("\"0.0#5\"")) // inner (1,1) of shard (0,0)
    assert(doc.contains("\"1.1#15\""))
  }

  test("only admitted inner chunks are fetched (corruption proof)") {
    val g = writeFixture()
    // target block B = 9: shard (0,0), inner ordinal 5, cells
    // y∈{2.5,3.5} × x∈{2.5,3.5}, values {9, 9.25, 9.5, 9.75}. Shard
    // (0,1)'s RANGE [4, 31.75] admits [9, 9.75] at chunk granularity —
    // its block rows exclude every inner chunk, so only its index may
    // be read. Shards (1,0)/(1,1) prune at chunk level entirely.
    val idxSize = 16 * 16 + 4 // 16 entries + crc32c
    val innerSz = 2 * 2 * 8 // raw inner chain
    def smash(rel: String, keepOrds: Set[Int]): Unit = {
      val p = java.nio.file.Paths.get(s"$g/v/$rel")
      val bytes = Files.readAllBytes(p)
      for (ord <- 0 until 16 if !keepOrds.contains(ord);
           k <- 0 until innerSz)
        bytes(ord * innerSz + k) = 9
      Files.write(p, bytes)
    }
    smash("c/0/0", keepOrds = Set(5))
    smash("c/0/1", keepOrds = Set.empty)
    Files.write(java.nio.file.Paths.get(s"$g/v/c/1/0"), Array[Byte](9, 9))
    Files.write(java.nio.file.Paths.get(s"$g/v/c/1/1"), Array[Byte](9, 9))
    val q = spark.read.format("zarr").load(g)
      .filter(col("v") >= 9.0 && col("v") <= 9.75)
    val rows = q.collect().map(r =>
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(rows === Set((2.5, 2.5, 9.0), (2.5, 3.5, 9.25),
      (3.5, 2.5, 9.5), (3.5, 3.5, 9.75)))
  }

  test("aggregates above the mask use the same selective fetch") {
    val g = writeFixture()
    val idxSize = 16 * 16 + 4
    val innerSz = 32
    val p = java.nio.file.Paths.get(s"$g/v/c/0/0")
    val bytes = Files.readAllBytes(p)
    for (ord <- 0 until 16 if ord != 5; k <- 0 until innerSz)
      bytes(ord * innerSz + k) = 9
    Files.write(p, bytes)
    Files.write(java.nio.file.Paths.get(s"$g/v/c/1/0"), Array[Byte](9))
    Files.write(java.nio.file.Paths.get(s"$g/v/c/1/1"), Array[Byte](9))
    // shard (0,1) left intact here: its blocks all exclude, so whether
    // pruned or fetched the result is identical — this test pins the
    // AGGREGATE path (ZarrVarAggScan partitions carry innerKeep too)
    val r = spark.read.format("zarr").load(g)
      .filter(col("v") >= 9.0 && col("v") <= 9.75)
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s")).head()
    assert(r.getLong(0) === 4L)
    assert(r.getDouble(1) === 9.0 + 9.25 + 9.5 + 9.75)
  }

  test("ANALYZE of an existing sharded store emits the same block rows") {
    import graft.sources.zarr.{ChunkStats, ZarrTable}
    val born = writeFixture() // stats = true at write time
    // identical store, analyzed after the fact
    val later = writeFixture()
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$later/${ChunkStats.FileName}"))
    ChunkStats.analyze(spark, later)
    def loaded(g: String) = {
      val za = ZarrTable.open(g).za
      val keys = for (j <- 0 until 2; i <- 0 until 2;
                      k <- Seq(s"$j.$i") ++ (0 until 16).map(o => s"$j.$i#$o"))
        yield k
      ChunkStats.load(graft.sources.ByteStore.current, g, za, g).get
        .bulk(Seq("v"), keys.distinct)
    }
    assert(loaded(later) === loaded(born)) // bit-identical moments
    // and the post-hoc sidecar drives the same selective fetch: corrupt
    // every inner chunk of shard (0,0) except the target block
    val p = java.nio.file.Paths.get(s"$later/v/c/0/0")
    val bytes = Files.readAllBytes(p)
    for (ord <- 0 until 16 if ord != 5; k <- 0 until 32)
      bytes(ord * 32 + k) = 9
    Files.write(p, bytes)
    val q = spark.read.format("zarr").load(later)
      .filter(col("v") >= 9.0 && col("v") <= 9.75)
      .filter(col("y") < 8.0 && col("x") < 8.0) // shard (0,0) only
    assert(q.count() === 4L)
  }

  test("fill and missing-inner semantics survive selective decode") {
    import spark.implicits._
    // edge-shaped array: shape 10×6 with 8×8 shards → edge shards with
    // partial in-bounds regions; all cells present, block-aligned values
    val y = Array.tabulate(10)(_ + 0.5)
    val x = Array.tabulate(6)(_ + 0.5)
    val df = (for { yi <- y; xi <- x } yield {
      val (j, i) = ((yi - 0.5).toInt, (xi - 0.5).toInt)
      ((yi, xi, ((j / 2) * 3 + (i / 2)) * 1.0))
    }).toSeq.toDF("y", "x", "v")
    val g = s"${tmpDir("subchunkEdge")}/cube.zarr"
    ZarrV3Source.writeCube(df, g, "v", Seq("y" -> y, "x" -> x),
      chunks = Seq(8, 8), steps = Seq(), shardInner = Some(Seq(2, 2)),
      stats = true)
    val q = spark.read.format("zarr").load(g).filter(col("v") === 7.0)
    // block value 7 = (j/2)=2, (i/2)=1 → cells y∈{4.5,5.5} × x∈{2.5,3.5}
    assert(q.count() === 4L)
    assert(q.agg(sum("v")).head.getDouble(0) === 28.0)
    // whole-table read unaffected (no value predicate → no innerKeep)
    assert(spark.read.format("zarr").load(g).count() === 60L)
  }
}
