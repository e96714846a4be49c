package graft

import graft.operators.{EmbeddingOps, MultimodalOps, SampleOps, TextOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  test("shingles + fingerprint + tokens") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, "  A  B  ")).toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), TextOps.shingles(col("text"), 3).as("sh")).collect()
    assert(sh.find(_.getLong(0) == 1L).get.getSeq[String](1) == Seq("a b c", "b c d"))
    assert(sh.find(_.getLong(0) == 2L).get.getSeq[String](1).isEmpty) // < n tokens
    // normalization collapses whitespace + case → fingerprints of 2 and 3 match
    val fps = df.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(2L) == fps(3L) && fps(1L) != fps(2L))
  }

  test("minhash LSH finds the planted near-duplicate, not the unrelated doc") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val far = "completely different words about spark catalyst tungsten partitions shuffles"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val withSh = TextOps.shingleArrays(df, "doc_id", "text", 3)
    val sigs = TextOps.minhashSignatures(withSh, "doc_id", 8)
    // 8-long signature array per doc
    assert(sigs.select(size(col("mh"))).collect().forall(_.getInt(0) == 8))
    val bands = TextOps.lshBandRows(sigs, "doc_id", 2, 8)
    assert(bands.count() == 3 * 4)
    val cands = TextOps.candidatePairs(bands, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.exists(p => p._1 == 3L || p._2 == 3L))
    val j = TextOps.jaccardOnCandidates(
      TextOps.candidatePairs(bands, "doc_id"), withSh, "doc_id").collect()
    val jac = j.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get.getDouble(2)
    assert(jac > 0.8 && jac < 1.0)
  }

  test("LSH bucket cap drops the degenerate cluster's pairs, keeps the rest") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    // 10 clones of one boilerplate doc + one genuine near-dup pair
    val clones = (10L until 20L).map(i => (i, "copy of the same boilerplate template text"))
    val df = (Seq((1L, base), (2L, near)) ++ clones).toDF("doc_id", "text")
    val sigs = TextOps.minhashSignatures(
      TextOps.shingleArrays(df, "doc_id", "text", 3), "doc_id", 8)
    val bands = TextOps.lshBandRows(sigs, "doc_id", 2, 8)
    // cap 5 < 10 clones: every clone bucket is dropped, (1,2) survives
    val capped = TextOps.candidatePairs(bands, "doc_id", maxBucket = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), capped)
    // the dropped buckets are reported, all of size 10, in all 4 bands
    val dropped = TextOps.oversizedBuckets(bands, 5).collect()
    assert(dropped.length == 4 && dropped.forall(_.getAs[Long]("bucket_n") == 10L))
    // an uncapped run (default cap) still enumerates the clone pairs
    val uncapped = TextOps.candidatePairs(bands, "doc_id").count()
    assert(uncapped == 1 + 10 * 9 / 2)
  }

  test("minhash64 matches the DuckDB hex-prefix arithmetic") {
    import spark.implicits._
    // fixed value cross-checked against DuckDB:
    //   SELECT ('0x' || substr(md5('hello world#3'), 1, 15))::BIGINT
    val v = Seq("x").toDF("s")
      .select(TextOps.minhash64(lit("hello world"), lit(3)).as("h"))
      .head().getLong(0)
    assert(v == 393483953809384980L)
  }

  test("simhash: identical docs share signatures, bands have 8 bits") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
                 (3L, "delta epsilon zeta")).toDF("doc_id", "text")
    val sh = TextOps.simhash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh(1L).length == 32 && sh(1L).forall(c => c == '0' || c == '1'))
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(3L))
  }

  test("native rolling-hash winnow matches the HOF polynomial form set-for-set") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different words about catalyst tungsten partitions"),
      (3L, "short doc"), // below k+w-1 after normalization → dropped
      (4L, "  Mixed   CASE   and   spacing   normalize   identically  ")
    ).toDF("doc_id", "text")
    def sets(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val native = sets(TextOps.winnowFingerprints(df, "doc_id", "text"))
    val hof = sets(TextOps.winnowFingerprintsHof(df, "doc_id", "text"))
    assert(native.keySet == hof.keySet && !native.contains(3L))
    native.foreach { case (k, fps) =>
      assert(fps == hof(k), s"doc $k: native $fps vs hof ${hof(k)}")
      assert(fps.nonEmpty)
    }
  }

  test("native CosineSim equals the HOF form bit-for-bit and stays codegen'd") {
    import spark.implicits._
    val df = Seq(
      (Array(0.3f, -1.7f, 2.2f, 0.0f), Array(1.1f, 0.4f, -0.9f, 3.3f)),
      (Array(1.0f, 2.0f, 3.0f, 4.0f), Array(4.0f, 3.0f, 2.0f, 1.0f))
    ).toDF("a", "b")
    val both = df.select(
      EmbeddingOps.cosine(col("a"), col("b")).as("native"),
      EmbeddingOps.cosineHof(col("a"), col("b")).as("hof")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}")
    }
    val plan = df.select(EmbeddingOps.cosine(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("cosine_sim"), plan)
    assert(!plan.contains("UDF"), plan)
  }

  test("native HammingDist equals the char-wise HOF form; null on length mismatch") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    def bits(n: Int) = (0 until n).map(_ => if (rnd.nextBoolean()) '1' else '0').mkString
    val df = (1 to 60).map(_ => (bits(32), bits(32))).toDF("a", "b")
    val both = df.select(
      graft.functions.HammingDist.col(col("a"), col("b")).as("native"),
      aggregate(zip_with(split(col("a"), ""), split(col("b"), ""),
        (x, y) => when(x =!= y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("long").as("hof")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    val plan = df.select(graft.functions.HammingDist.col(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hamming_dist") && !plan.contains("UDF"), plan)
    val edge = Seq(("101", "1011", "101")).toDF("s", "t", "u")
      .select(graft.functions.HammingDist.col(col("s"), col("t")).as("ne"),
        graft.functions.HammingDist.col(col("s"), col("u")).as("eq")).collect()(0)
    assert(edge.isNullAt(0) && edge.getLong(1) == 0L)
  }

  test("native L2Sq equals the HOF form bit-for-bit on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val df = (1 to 50).map { _ =>
      (Array.fill(16)(rnd.nextFloat() * 20 - 10),
        Array.fill(16)(rnd.nextFloat() * 20 - 10))
    }.toDF("a", "b")
    val both = df.select(
      EmbeddingOps.l2Sq(col("a"), col("b")).as("native"),
      EmbeddingOps.l2SqHof(col("a"), col("b")).as("hof")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}")
    }
    val plan = df.select(EmbeddingOps.l2Sq(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("l2_sq") && !plan.contains("UDF"), plan)
    // mixed float/double and unequal lengths behave like the HOF form
    val mixed = Seq((Array(1.0f, 2.0f), Array(0.5, 1.5), Array(1.0, 2.0, 3.0)))
      .toDF("f", "d", "longer")
    val m = mixed.select(
      EmbeddingOps.l2Sq(col("f"), col("d")).as("fd"),
      EmbeddingOps.l2Sq(col("f"), col("longer")).as("neq")).head()
    assert(m.getDouble(0) == 0.5 && m.isNullAt(1))
  }

  test("native PqArgminCode equals the array_min-of-structs form, ties to lower code") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    val rnd = new scala.util.Random(41)
    val subDim = 8
    val m = 4
    val cents = (0 until 16).map(code =>
      (code, Array.fill(subDim)(rnd.nextDouble() * 4 - 2)))
    // planted tie: candidate 7 duplicates candidate 2's centroid, so any
    // row nearest to it must resolve to the LOWER code (2)
    val tied = cents.updated(7, (7, cents(2)._2.clone()))
    val df = (1 to 60).map(_ => Tuple1(
      Array.fill(subDim * m)(rnd.nextFloat() * 4 - 2))).toDF("emb")
    (0 until m).foreach { s =>
      val hofBest = array_min(array(tied.map { case (code, c) =>
        struct(round(EmbeddingOps.l2Sq(
          slice(col("emb"), s * subDim + 1, subDim), typedLit(c)), 6)
          .as("dist"), lit(code.toLong).as("code"))
      }: _*)).getField("code")
      val native = ColumnBridge.column(graft.functions.PqArgminCode(
        ColumnBridge.expression(col("emb")),
        tied.map { case (code, c) => (code.toLong, c) }, s * subDim, subDim))
      df.select(native.as("n"), hofBest.as("h")).collect().foreach { r =>
        assert(r.getLong(0) == r.getLong(1),
          s"subspace $s: native ${r.getLong(0)} != hof ${r.getLong(1)}")
      }
    }
    val plan = df.select(ColumnBridge.column(graft.functions.PqArgminCode(
        ColumnBridge.expression(col("emb")),
        tied.map { case (code, c) => (code.toLong, c) }, 0, subDim)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("pq_argmin_code") && !plan.contains("UDF"), plan)
  }

  test("SampleOps: split is a pure key function; growth never reassigns") {
    import spark.implicits._
    val small = (0L until 200L).toDF("id")
    val big = (0L until 1000L).toDF("id")
    def splits(df: org.apache.spark.sql.DataFrame) =
      SampleOps.splitAssign(df, "id", 80, 10).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val s1 = splits(small); val s2 = splits(big)
    // stability: every id keeps its split when the corpus grows 5×
    s1.foreach { case (id, sp) => assert(s2(id) == sp, s"id $id moved") }
    // all three splits materialize at sane proportions on 1000 keys
    val bys = s2.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bys.keySet == Set("train", "val", "test"))
    assert(bys("train") > 700 && bys("train") < 900)
    assert(bys("val") > 50 && bys("test") > 50)
    // rate sampling: exact-threshold determinism, monotone in rate
    val k25 = SampleOps.sampleByRate(big, "id", 0.25).collect().map(_.getLong(0)).toSet
    val k50 = SampleOps.sampleByRate(big, "id", 0.5).collect().map(_.getLong(0)).toSet
    assert(k25.subsetOf(k50)) // raising the rate only ADDS keys
    assert(k50.size > 400 && k50.size < 600)
    // domain mix: absent domains drop; rate-1.0 domain keeps everything
    val docs = (0L until 100L).map(i => (i, s"src${i % 5}")).toDF("id", "dom")
    val kept = SampleOps.domainMix(docs, "id", "dom",
        Map("src0" -> 1.0, "src1" -> 0.5))
      .groupBy("dom").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("src0") == 20 && !kept.contains("src2"))
    assert(kept.getOrElse("src1", 0L) < 20)
    // export head: k smallest hashes, deterministic across invocations
    val h1 = SampleOps.exportHead(big, "id", 10).collect().map(_.getLong(0)).toSeq
    val h2 = SampleOps.exportHead(big, "id", 10).collect().map(_.getLong(0)).toSeq
    assert(h1 == h2 && h1.size == 10)
  }

  test("CosineSim: unequal lengths are null (like the HOF form); bad winnow args rejected") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val r = df.select(
      EmbeddingOps.cosine(col("a"), col("b")).as("native"),
      EmbeddingOps.cosineHof(col("a"), col("b")).as("hof")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    // interpreted path too (no whole-stage codegen inside a HOF lambda)
    val interp = df.select(transform(array(lit(0)),
      _ => EmbeddingOps.cosine(col("a"), col("b"))).getItem(0)).head()
    assert(interp.isNullAt(0))
    // winnow_fp with k/window < 1 fails at construction, not mid-scan
    intercept[IllegalArgumentException] {
      graft.functions.WinnowFp(
        org.apache.spark.sql.graft.ColumnBridge.expression(lit("abc")), 8, 0)
    }
    intercept[IllegalArgumentException] {
      graft.functions.WinnowFp(
        org.apache.spark.sql.graft.ColumnBridge.expression(lit("abc")), 0, 4)
    }
  }

  test("knn brute force: exact neighbor ordering with deterministic ties") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 0.01f))).toDF("vec_id", "embedding")
    val out = EmbeddingOps.knnBruteForce(df.filter(col("vec_id") === 0), df,
      "vec_id", "embedding", 2).collect()
    assert(out.length == 2)
    assert(out.find(_.getAs[Int]("rank") == 1).get.getAs[Long]("vec_id") == 3L)
    assert(out.find(_.getAs[Int]("rank") == 2).get.getAs[Long]("vec_id") == 1L)
  }

  test("sign buckets co-locate similar vectors") {
    import spark.implicits._
    val df = Seq(
      (0L, Array.fill(8)(1.0f)),
      (1L, Array.fill(8)(0.5f)),
      (2L, Array.fill(8)(-1.0f))).toDF("vec_id", "embedding")
    val b = df.select(col("vec_id"),
      EmbeddingOps.signBucket(col("embedding"), 8, 4).as("bucket")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b(0L) == "1111" && b(1L) == "1111" && b(2L) == "0000")
  }

  test("multimodal stub: packed schema + partition-wise feature extraction") {
    import spark.implicits._
    val df = Seq((7L, "abc"), (8L, "")).toDF("doc_id", "text")
    val packed = MultimodalOps.packBinary(df, "doc_id", "text")
    assert(packed.schema("payload").dataType.typeName == "binary")
    assert(packed.schema("meta").dataType.typeName == "map")
    val feats = MultimodalOps.extractFeatures(packed).collect()
      .map(f => f.id -> f).toMap
    assert(feats(7L).nBytes == 3 && feats(7L).width == 4 && feats(7L).height == 4)
    assert(math.abs(feats(7L).meanByte - ("abc".map(_.toInt).sum / 3.0)) < 1e-9)
    assert(feats(8L).nBytes == 0 && feats(8L).meanByte == 0.0)
    // resize stub: payload sliced to the pixel budget, dims rewritten
    val resized = MultimodalOps.resizeStub(packed, 2, 1).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(resized(7L).getAs[Array[Byte]]("payload").length == 2)
    assert(resized(7L).getAs[Int]("width") == 2 && resized(7L).getAs[Int]("height") == 1)
    // frame sampling: 7-byte payload in 3-byte frames, every 2nd frame
    import spark.implicits._
    val vid = MultimodalOps.packBinary(Seq((9L, "abcdefg")).toDF("doc_id", "text"),
      "doc_id", "text")
    val frames = MultimodalOps.frameSampleStub(vid, frameBytes = 3, everyN = 2)
      .select("frame_idx", "frame_len").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(frames == Map(0L -> 3, 2L -> 1)) // frames 0 and 2; frame 1 skipped
  }

  test("IVF index: probes only nearest cells, finds in-cluster neighbors") {
    import spark.implicits._
    // three tight, well-separated clusters in 4-d
    def jitter(base: Array[Float], s: Float) = base.zipWithIndex.map {
      case (v, i) => v + s * ((i % 3) - 1) * 0.01f
    }
    val a = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val c = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val rows = (0 until 5).flatMap(s => Seq(
      (s * 3 + 0L, jitter(a, s)), (s * 3 + 1L, jitter(b, s)), (s * 3 + 2L, jitter(c, s))))
    val df = rows.toDF("vec_id", "embedding")
    val idx = graft.operators.IvfOps.build(df, "vec_id", "embedding", nCells = 3)
    assert(idx.centroids.length == 3)
    val hits = graft.operators.IvfOps.search(idx, "vec_id", "embedding",
      Array(1.0, 0.0, 0.0, 0.0), k = 4, nProbe = 1).collect()
    assert(hits.length == 4)
    // all hits come from the a-cluster (ids ≡ 0 mod 3)
    assert(hits.forall(_.getLong(0) % 3 == 0))
    assert(hits.forall(_.getDouble(1) > 0.99))
    // batch search, one plan: two queries from different clusters, each
    // probing only its own cell (nProbe = 1) — hits stay in-cluster
    val q2 = df.filter(col("vec_id").isin(0L, 1L))
    val batch = graft.operators.IvfOps.searchBatch(idx, q2, "vec_id", "embedding",
      "vec_id", "embedding", k = 3, nProbe = 1).collect()
    assert(batch.length == 6)
    batch.foreach { r =>
      assert(r.getAs[Long]("vec_id") % 3 == r.getAs[Long]("query_id") % 3, r.toString)
    }
    // with nProbe = nCells the batch result equals exact brute force
    // (self included, like the serving query's oracle)
    val full = graft.operators.IvfOps.searchBatch(idx, q2, "vec_id", "embedding",
      "vec_id", "embedding", k = 4, nProbe = 3)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full.contains((0L, 1L, 0L)) && full.contains((1L, 1L, 1L))) // self is rank 1
  }

  test("IVF append: maintained index == rebuilt-by-assignment, search-identical") {
    import spark.implicits._
    def jitter(base: Array[Float], s: Float) = base.zipWithIndex.map {
      case (v, i) => v + s * ((i % 3) - 1) * 0.01f
    }
    val a = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val c = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val rows = (0 until 6).flatMap(s => Seq(
      (s * 3 + 0L, jitter(a, s)), (s * 3 + 1L, jitter(b, s)), (s * 3 + 2L, jitter(c, s))))
    val df = rows.toDF("vec_id", "embedding")
    val base = df.filter($"vec_id" < 9)     // 3 per cluster
    val delta = df.filter($"vec_id" >= 9)   // 3 per cluster, unseen at build
    val idx = graft.operators.IvfOps.build(base, "vec_id", "embedding", nCells = 3)
    val maintained = graft.operators.IvfOps.append(idx, delta, "vec_id", "embedding")
    // delta rows land in the SAME cell as their cluster's base rows: the
    // fixed-codebook argmin routes them to the trained centroid
    val cellOf = maintained.assigned.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(cellOf.size == 18)
    (0 until 3).foreach { m =>
      val cells = (0 until 6).map(s => cellOf(s * 3 + m.toLong)).toSet
      assert(cells.size == 1, s"cluster $m split across cells $cells")
    }
    // maintained == rebuilt-by-assignment over the whole corpus with the
    // same codebook (assignment is a pure per-row function of the
    // centroids, so append order cannot drift the list table)
    val rebuilt = graft.operators.IvfOps.append(
      graft.operators.IvfOps.IvfIndex(base.limit(0).withColumn("__cell", lit(0)), idx.centroids),
      df, "vec_id", "embedding")
    val mSet = maintained.assigned.select("vec_id", "__cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val rSet = rebuilt.assigned.select("vec_id", "__cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(mSet == rSet)
    // and the search surface agrees: full-probe top-k over the maintained
    // index equals brute force over base ∪ delta (delta id 9 as a query)
    val qs = df.filter($"vec_id".isin(0L, 9L))
    val got = graft.operators.IvfOps.searchBatch(maintained, qs, "vec_id",
      "embedding", "vec_id", "embedding", k = 4, nProbe = 3)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.contains((9L, 1L, 9L))) // self is rank 1: appended row served
    assert(got.count(_._1 == 9L) == 4)
  }

  test("IVF appendAndStore: 3 appends, constant plan depth, union-identical") {
    import spark.implicits._
    def jitter(base: Array[Float], s: Float) = base.zipWithIndex.map {
      case (v, i) => v + s * ((i % 3) - 1) * 0.01f
    }
    val a = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val c = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val rows = (0 until 8).flatMap(s => Seq(
      (s * 3 + 0L, jitter(a, s)), (s * 3 + 1L, jitter(b, s)), (s * 3 + 2L, jitter(c, s))))
    val df = rows.toDF("vec_id", "embedding")
    val base = df.filter($"vec_id" < 6)
    val dir = new java.io.File(TestDirs.tmpDir("graft_ivf_store"))
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/idx"
    graft.operators.IvfOps.save(
      graft.operators.IvfOps.build(base, "vec_id", "embedding", nCells = 3), path)
    // three maintenance appends, each persisted; the served index must be
    // ONE parquet scan — no Union node no matter how many appends ran
    var stored = graft.operators.IvfOps.load(spark, path)
    var lazyIdx = stored
    Seq(6L -> 12L, 12L -> 18L, 18L -> 24L).foreach { case (lo, hi) =>
      val batch = df.filter($"vec_id" >= lo && $"vec_id" < hi)
      stored = graft.operators.IvfOps.appendAndStore(
        spark, path, batch, "vec_id", "embedding")
      lazyIdx = graft.operators.IvfOps.append(lazyIdx, batch, "vec_id", "embedding")
    }
    val plan = stored.assigned.queryExecution.optimizedPlan
    assert(!plan.toString.contains("Union"),
      s"appendAndStore stacked a union plan:\n$plan")
    // and the storage-backed table equals the union-chained one row-for-row
    val sSet = stored.assigned.select("vec_id", "__cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val lSet = lazyIdx.assigned.select("vec_id", "__cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(sSet == lSet && sSet.size == 24)
  }

  test("connected components: stars, chains, transitivity, determinism") {
    import spark.implicits._
    // two components: a 6-node chain (worst case for label propagation —
    // star contraction must still converge) and a triangle, plus a self-loop
    val edges = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), // chain
      (3L, 1L), (1L, 2L), (2L, 3L),                               // triangle
      (7L, 7L)                                                    // self-loop only
    ).toDF("a", "b")
    val cc = Cuts.withCuts { c =>
      graft.operators.ClusterOps.connectedComponents(c, edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert((10L to 15L).forall(cc(_) == 10L))
    assert((1L to 3L).forall(cc(_) == 1L))
    assert(!cc.contains(7L)) // self-loops carry no connectivity
    assert(cc.size == 9)
    // edge direction is irrelevant: reversing every edge gives same labels
    val rev = Cuts.withCuts { c =>
      graft.operators.ClusterOps.connectedComponents(c,
          edges.select(col("b").as("a"), col("a").as("b")), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(rev == cc)
  }

  test("connected components: a round cap that is hit throws and leaves nothing persisted") {
    import spark.implicits._
    val chain = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L))
      .toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Cuts.withCuts { c =>
        graft.operators.ClusterOps.connectedComponents(c, chain, "a", "b",
          maxIter = 1).collect()
      }
    }
    assert(e.getMessage.contains("did not converge"))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("incrementalCC == full CC over the union; untouched ids stable") {
    import spark.implicits._
    import graft.operators.ClusterOps
    val rnd = new scala.util.Random(23)
    // random old graph over nodes 0..199 plus an untouched island
    val oldPairs = (Seq.fill(120)((rnd.nextInt(200).toLong,
      rnd.nextInt(200).toLong)) ++ Seq((900L, 901L), (901L, 902L)))
      .filter(p => p._1 != p._2).toDF("u", "v")
    // batch: new-node chains bridging old components + brand-new islands
    // + intra-component no-ops
    val batch = (Seq.fill(40)((rnd.nextInt(260).toLong,
      rnd.nextInt(260).toLong)) ++
      Seq((300L, 301L), (301L, 5L), (300L, 150L), // bridge via new nodes
        (400L, 401L)))                            // fully new island
      .filter(p => p._1 != p._2).toDF("u", "v")
    val inc = Cuts.withCuts { c =>
      val labels = ClusterOps.connectedComponents(c, oldPairs, "u", "v")
      ClusterOps.incrementalCC(labels, batch)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val full = Cuts.withCuts { c =>
      ClusterOps.connectedComponents(c, oldPairs.unionByName(batch), "u", "v")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(inc == full)
    // the untouched island keeps its canonical id
    assert(inc(902L) == 900L)
  }

  test("incrementalCC: chained batches == full CC, seeded fuzz") {
    import spark.implicits._
    import graft.operators.ClusterOps
    // three successive ingest batches folded one after another must end
    // at exactly the from-scratch CC over everything — per seed
    for (seed <- Seq(7, 19, 41)) {
      val rnd = new scala.util.Random(seed)
      def pairs(n: Int, lo: Int, hi: Int) =
        Seq.fill(n)((lo + rnd.nextInt(hi - lo).toLong,
          lo + rnd.nextInt(hi - lo).toLong)).filter(p => p._1 != p._2)
      val base = pairs(60, 0, 150)
      val batches = Seq(pairs(25, 100, 250), pairs(25, 0, 300),
        pairs(10, 280, 320))
      val inc = Cuts.withCuts { c =>
        var labels =
          ClusterOps.connectedComponents(c, base.toDF("u", "v"), "u", "v")
        for (b <- batches)
          labels = ClusterOps.incrementalCC(labels, b.toDF("u", "v"))
        labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val full = Cuts.withCuts { c =>
        ClusterOps.connectedComponents(c,
            (base ++ batches.flatten).toDF("u", "v"), "u", "v")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(inc == full, s"seed=$seed")
    }
  }

  test("incrementalCC never shuffles the labels table (broadcast-only plan)") {
    import spark.implicits._
    import graft.operators.ClusterOps
    val dir = TestDirs.tmpDir("inc-cc")
    spark.range(100000L)
      .select(col("id").as("node"), (col("id") - col("id") % 2).as("comp"))
      .write.mode("overwrite").parquet(dir)
    val labels = spark.read.parquet(dir)
    val batch = Seq((2L, 4L), (100001L, 7L)).toDF("u", "v")
    val out = ClusterOps.incrementalCC(labels, batch)
    val plan = out.queryExecution.executedPlan.toString
    // the corpus-sized side enters only via broadcast hash joins: a sort-
    // merge join (or any exchange of the parquet scan) would mean the
    // per-ingest cost scales with the corpus, not the batch
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(4L) == 2L && got(5L) == 2L && got(2L) == 2L)
    assert(got(100001L) == 6L && got(7L) == 6L) // new node joins comp 6
    assert(got(99999L) == 99998L) // untouched tail unchanged
  }

  test("chunk windows: overlap, tail, short docs, degenerate strides") {
    import spark.implicits._
    import graft.operators.TextOps
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b"),                                    // shorter than width
      (3L, "")                                        // 1 empty-string token
    ).toDF("id", "text")
    val w = TextOps.chunkWindows(df, "text", width = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> (r.getInt(3), r.getInt(4), r.getString(5)))
      .toMap
    // doc 1: starts 0,3,6 → lens 4,4,4; the window at 6 reaches the doc end,
    // so no start-9 tail window (it would be wholly contained in it)
    assert(w((1L, 0)) == ((0, 4, "t1 t2 t3 t4")))
    assert(w((1L, 1)) == ((3, 4, "t4 t5 t6 t7")))
    assert(w((1L, 2)) == ((6, 4, "t7 t8 t9 t10")))
    assert(w((2L, 0)) == ((0, 2, "a b")))
    assert(w.contains((3L, 0))) // split("") = [""] → one 1-token window
    assert(!w.contains((1L, 3)) && !w.contains((2L, 1)))
    // stride == width → non-overlapping tiling
    val nt = TextOps.chunkWindows(df.filter(col("id") === 1L), "text", 5, 5)
      .collect().map(r => r.getString(5))
    assert(nt.toSet == Set("t1 t2 t3 t4 t5", "t6 t7 t8 t9 t10"))
    // stride > width is rejected (windows would skip tokens)
    intercept[IllegalArgumentException](
      TextOps.chunkWindows(df, "text", width = 3, stride = 5).collect())
  }

  test("repeatedSpans: only cross-document n-gram windows are flagged") {
    import spark.implicits._
    import graft.operators.TextOps
    val common = (1 to 5).map(i => s"c$i").mkString(" ") // 5 shared tokens
    val docs = Seq(
      (1L, s"a1 a2 $common a3 a4"),      // window of `common` at pos 2
      (2L, s"b1 $common b2 b3 b4 b5"),   // same window at pos 1
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9"),// no shared window
      (4L, "short doc")                  // under n tokens → no windows
    ).toDF("doc_id", "text")
    val spans = TextOps.repeatedSpans(docs, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSet // (doc, pos)
    // the ONLY 5-token window shared verbatim between docs 1 and 2 is
    // `common` itself (neighbors differ: a2/b1 prefixes, a3/b2 suffixes)
    assert(spans == Set((1L, 2), (2L, 1)), spans.toString)
    // within-document repetition alone is NOT a cross-doc duplicate
    val selfRep = Seq((9L, "r r r r r r r r r r")).toDF("doc_id", "text")
    assert(TextOps.repeatedSpans(selfRep, "doc_id", "text", 5).count() == 0)
  }

  test("removeRepeatedSpans: first occurrence kept, later ones cut, full dups emptied") {
    import spark.implicits._
    import graft.operators.TextOps
    val common = (1 to 5).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 $common a3"),   // first occurrence (min doc_id) — kept whole
      (2L, s"b1 $common b2 b3"),   // later occurrence — the 5 span tokens cut
      (3L, common),                // exactly the span — fully emptied
      (4L, "u1 u2 u3")             // untouched, passes through verbatim
    ).toDF("doc_id", "text")
    val out = TextOps.removeRepeatedSpans(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (s"a1 a2 $common a3", 8L), out(1L).toString)
    assert(out(2L) == ("b1 b2 b3", 3L), out(2L).toString)
    assert(out(3L) == ("", 0L), out(3L).toString)
    assert(out(4L) == ("u1 u2 u3", 3L))
    assert(out.size == 4)
  }

  test("PQ: trained codebooks retrieve only same-cluster neighbors") {
    import spark.implicits._
    import graft.operators.EmbeddingOps
    // 8 well-separated cluster centers in R^16, 25 points each + noise
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(8, 16)(rnd.nextGaussian() * 10)
    val rows = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val seeds = rows.take(16).map { case (id, e) =>
      (id.toInt, e.map(_.toDouble)) }
    // train 4 Lloyd iterations per subspace (m=4, subdim=4, k=16)
    val cbs = EmbeddingOps.pqTrain(df, "vec_id", "embedding", seeds, m = 4, iters = 4)
    assert(cbs.length == 4 && cbs.forall(_.forall(_._2.length == 4)))
    val queries = df.filter($"vec_id" < 10)
    val pq = EmbeddingOps.pqSearch(queries, df, "vec_id", "embedding", cbs, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(pq.length == 30, "3 results per query")
    // PQ's contract is coarse retrieval: with well-separated centers every
    // retrieved neighbor must come from the query's own cluster (ranking
    // WITHIN a cluster of near-ties is legitimately quantization-limited;
    // the exact ADC arithmetic itself is oracle-checked by q_pq_adc)
    val impure = pq.filter { case (q, v) => q % 8 != v % 8 }
    assert(impure.isEmpty, s"cross-cluster results: $impure")
  }

  test("IVF-PQ: residual codes + probed ADC retrieve same-cluster neighbors") {
    import spark.implicits._
    import graft.operators.{EmbeddingOps, IvfOps}
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8, 16)(rnd.nextGaussian() * 10)
    val rows = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val ivf = IvfOps.build(df, "vec_id", "embedding", nCells = 8, maxIter = 8)
    val ivfpq = IvfOps.buildPq(ivf, "vec_id", "embedding", m = 4,
      nCodes = 16, iters = 3)
    // the stored index is integer codes only: m rows per vector
    assert(ivfpq.codes.count() == 200 * 4)
    val hits = IvfOps.searchPq(ivfpq, df.filter($"vec_id" < 10),
        "vec_id", "embedding", "vec_id", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(hits.length == 30, "3 results per query")
    val impure = hits.filter { case (q, v) => q % 8 != v % 8 }
    assert(impure.isEmpty, s"cross-cluster results: $impure")
  }

  test("gopher rules: each rule flips on exactly its own trigger") {
    import spark.implicits._
    import graft.operators.TextOps
    // 52 words, letters, stop words, no symbols/bullets → passes all rules
    val good = (Seq.fill(11)("the fox and hound of note").mkString(" ") +
      " with that").trim
    val docs = Seq(
      (0L, good),
      (1L, "the and of short"),                       // r_words (too few)
      (2L, good + Seq.fill(9)(" #").mkString),        // r_symbols
      (3L, (1 to 60).map(_ => "zz").mkString(" ")),   // r_stop (and short words)
      (4L, (1 to 30).map(_ => "- the fox and of a").mkString("\n")), // r_bullets
      (5L, (1 to 30).map(_ => "the fox and of a...").mkString("\n")), // r_ellipsis
      (6L, (1 to 60).map(i => s"$i").mkString(" ")),  // r_alpha (numerals)
      (7L, (1 to 30).map(_ => "the fox and of a…").mkString("\n")), // r_ellipsis (U+2026)
      (8L, good + Seq.fill(9)(" …").mkString)         // r_symbols via U+2026
    ).toDF("doc_id", "text")
    val r = TextOps.gopherRules(docs, "text").collect()
      .map(row => row.getLong(0) -> row).toMap
    def b(id: Long, c: String) = r(id).getBoolean(r(id).fieldIndex(c))
    assert(b(0, "gopher_keep"), "good doc must pass every rule")
    assert(!b(1, "r_words") && !b(1, "gopher_keep"))
    assert(!b(2, "r_symbols") && b(2, "r_words"))
    assert(!b(3, "r_stop"))
    assert(!b(4, "r_bullets") && b(4, "r_stop"))
    assert(!b(5, "r_ellipsis"))
    assert(!b(6, "r_alpha"))
    // the Unicode ellipsis '…' counts like ASCII '...' (Gopher's rule is
    // about ellipses, not a byte sequence)
    assert(!b(7, "r_ellipsis"))
    assert(!b(8, "r_symbols") && b(8, "r_words"))
  }

  test("kmeans step: nearest centroid wins, ties to lower cid, sums exact") {
    import spark.implicits._
    import graft.operators.EmbeddingOps
    val rows = Seq(
      (0L, Array(0.0f, 0.0f)),   // at centroid 0
      (1L, Array(10.0f, 0.0f)),  // at centroid 1
      (2L, Array(5.0f, 0.0f)),   // EXACTLY between → tie → cid 0
      (3L, Array(7.0f, 1.0f)))   // nearer centroid 1
    val df = rows.toDF("vec_id", "embedding")
    val cents = Seq(0 -> Array(0.0, 0.0), 1 -> Array(10.0, 0.0))
    val a = EmbeddingOps.kmeansAssign(df, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(a(0L) == ((0L, 0.0)) && a(1L) == ((1L, 0.0)))
    assert(a(2L)._1 == 0L, "equidistant point must break ties to the lower cid")
    assert(a(3L)._1 == 1L && a(3L)._2 == 10.0) // (7-10)^2 + 1 = 10
    val upd = EmbeddingOps.kmeansUpdate(
        EmbeddingOps.kmeansAssign(df, "vec_id", "embedding", cents), "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(upd((0L, 0L)) == ((2L, 5.0)))  // members 0, 2 → sum x0 = 0 + 5
    assert(upd((1L, 0L)) == ((2L, 17.0))) // members 1, 3 → sum x0 = 10 + 7
    assert(upd((1L, 1L)) == ((2L, 1.0)))
  }

  test("kmeans iterations converge to the obvious two-blob means") {
    import spark.implicits._
    import graft.operators.EmbeddingOps
    // two tight blobs around (0,0) and (100,100); seeds start badly
    val pts = (0 until 20).map { i =>
      val blob = i % 2
      (i.toLong, Array((blob * 100 + i % 3 - 1).toFloat, (blob * 100 + (i / 2) % 3 - 1).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val fin = EmbeddingOps.kmeansIterate(df, "vec_id", "embedding",
      Seq(0 -> Array(40.0, 40.0), 1 -> Array(60.0, 60.0)), iters = 5).toMap
    assert(math.abs(fin(0)(0)) < 2 && math.abs(fin(0)(1)) < 2, fin(0).toSeq)
    assert(math.abs(fin(1)(0) - 100) < 2 && math.abs(fin(1)(1) - 100) < 2, fin(1).toSeq)
    // an unreachable centroid keeps its seed position
    val fin2 = EmbeddingOps.kmeansIterate(df, "vec_id", "embedding",
      Seq(0 -> Array(50.0, 50.0), 1 -> Array(1e9, 1e9)), iters = 2).toMap
    assert(fin2(1).sameElements(Array(1e9, 1e9)))
  }

  test("sequence packing: lossless, gapless, fixed-length, deterministic") {
    import spark.implicits._
    import graft.operators.SampleOps
    val L = 100
    val docs = (1 to 200).map(i => (i.toLong, 1 + (i * 37) % 250)).toDF("id", "toks")
    val packed = SampleOps.packSequences(docs, "id", "toks", L, shards = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // columns: id, toks, shard, seq_in_shard, tok_in_seq, tok_start
    val byDoc = packed.groupBy(_._1)
    // lossless: each doc's spans sum to its token count and tile it in order
    val tokOf = (1 to 200).map(i => i.toLong -> (1L + (i * 37) % 250)).toMap
    byDoc.foreach { case (id, spans) =>
      assert(spans.map(_._4).sum == tokOf(id), s"doc $id span sum")
      val sorted = spans.sortBy(_._5)
      assert(sorted.head._5 == 0L, s"doc $id first span offset")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 + a._4 == b._5, s"doc $id gap")
        case _ =>
      }
    }
    // fixed length: every sequence except each shard's LAST holds exactly L
    packed.groupBy(_._2).foreach { case (shard, spans) =>
      val perSeq = spans.groupBy(_._3).view.mapValues(_.map(_._4).sum)
      val lastSeq = perSeq.keys.max
      perSeq.foreach { case (seq, n) =>
        if (seq < lastSeq) assert(n == L, s"shard $shard seq $seq holds $n")
        else assert(n >= 1 && n <= L, s"shard $shard tail $n")
      }
    }
    // deterministic: same layout regardless of input row order
    val again = SampleOps.packSequences(
        docs.orderBy(rand(42)), "id", "toks", L, shards = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(again.sortBy(t => (t._1, t._3)).toSeq == packed.sortBy(t => (t._1, t._3)).toSeq)
  }

  test("SQ8: codes in range, bounded decode error, same-cluster retrieval") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dim = 16
    // two well-separated blobs; SQ8's 256 bins per dim lose far less than
    // the inter-blob distance, so retrieval must stay within the blob
    val rows = (0 until 40).map { i =>
      val center = if (i % 2 == 0) 5.0 else -5.0
      (i.toLong, Array.tabulate(dim)(_ => (center + rnd.nextGaussian() * 0.3).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val (mins, spans) = EmbeddingOps.sqTrain(df, "embedding", dim)
    assert(mins.length == dim && spans.forall(_ > 0))
    val enc = EmbeddingOps.sqEncode(df, "vec_id", "embedding", mins, spans)
    val codes = enc.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.values.flatten.forall(c => c >= 0 && c <= 255))
    // decode error per coordinate is at most half a bin
    val dec = enc.select(col("vec_id"),
        EmbeddingOps.sqDecoded(mins, spans).as("dv")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.foreach { case (id, emb) =>
      emb.zip(dec(id)).zipWithIndex.foreach { case ((x, d), i) =>
        assert(math.abs(x - d) <= spans(i) / 256.0 / 2 + 1e-9,
          s"vec $id dim $i decode error")
      }
    }
    val hits = EmbeddingOps.sqSearch(df.filter($"vec_id" < 4), enc,
        "vec_id", "embedding", mins, spans, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(hits.nonEmpty)
    hits.foreach { case (q, n) =>
      assert(q % 2 == n % 2, s"query $q retrieved cross-blob neighbor $n")
    }
  }

  test("bloom probe: zero false negatives, determinism, missing-word = miss") {
    import spark.implicits._
    import graft.operators.BloomOps
    val keys = (1 to 400).map(i => (i.toLong, s"key$i")).toDF("id", "k")
    val blocked = keys.filter($"id" % 7 === 0).select("k")
    val m = 512L
    val bm = BloomOps.buildBitmap(blocked, "k", m, 4)
    val probed = BloomOps.probe(keys, "k", bm, m, 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // no false negatives, ever
    (7 to 400 by 7).foreach(i => assert(probed(i.toLong), s"FN at $i"))
    // with m=512 and 57 keys * 4 bits the filter is ~36% full — false
    // positives exist but never dominate; and they are DETERMINISTIC
    val fps = probed.filter { case (id, hit) => hit && id % 7 != 0 }.keys.toSeq.sorted
    assert(fps.nonEmpty && fps.size < 100, s"implausible FP count ${fps.size}")
    val probed2 = BloomOps.probe(keys.orderBy(rand(7)), "k", bm, m, 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(probed2 == probed)
    // an empty blocklist's bitmap has no rows — every probe misses via
    // the coalesce(word, 0) path
    val emptyBm = BloomOps.buildBitmap(blocked.limit(0), "k", m, 4)
    val none = BloomOps.probe(keys, "k", emptyBm, m, 4)
      .filter(col("bloom_hit")).count()
    assert(none == 0L)
  }

  test("bloom probeInline: agrees with probe; mismatched-mBits bitmap is loud") {
    import spark.implicits._
    import graft.operators.BloomOps
    val keys = (1 to 200).map(i => (i.toLong, s"key$i")).toDF("id", "k")
    val blocked = keys.filter($"id" % 7 === 0).select("k")
    val m = 512L
    val bm = BloomOps.buildBitmap(blocked, "k", m, 4)
    val inline = BloomOps.probeInline(keys, "k", bm, m, 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val joined = BloomOps.probe(keys, "k", bm, m, 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(inline == joined)
    // a bitmap built for a LARGER m carries word indices past the probe's
    // word array — must be a named error, not an AIOOBE or silent scatter
    val bmBig = BloomOps.buildBitmap(blocked, "k", 4096L, 4)
    val e = intercept[IllegalArgumentException](
      BloomOps.probeInline(keys, "k", bmBig, m, 4))
    assert(e.getMessage.contains("different mBits"), e.getMessage)
  }

  test("stratified sample: exact per-stratum k, hash-minimal members, determinism") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong, s"s${i % 5}", i * 10)).toDF("id", "src", "v")
      .unionByName(Seq((9999L, "tiny", 1)).toDF("id", "src", "v"))
    val kept = SampleOps.stratifiedSample(df, Seq("src"), "id", 4).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getInt(2)))
    // exactly min(k, n) per stratum; payload columns survive intact
    val bySrc = kept.groupBy(_._1).view.mapValues(_.length).toMap
    (0 until 5).foreach(s => assert(bySrc(s"s$s") == 4))
    assert(bySrc("tiny") == 1)
    kept.foreach { case (_, id, v) => assert(v == (if (id == 9999L) 1 else id * 10)) }
    // members are exactly the k smallest key hashes per stratum
    val hashes = df.select(col("id"), col("src"),
        SampleOps.keyHash(col("id")).as("h")).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    val expect = hashes.groupBy(_._1).view.mapValues(
      _.sortBy(t => (t._3, t._2.toString)).take(4).map(_._2).toSet).toMap
    kept.groupBy(_._1).foreach { case (s0, rows) =>
      assert(rows.map(_._2).toSet == expect(s0), s"stratum $s0 membership")
    }
  }
}
