package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the properties that make these queries
  * survive a 100× scale-up are asserted against the physical plan, so a
  * refactor can't silently reintroduce a shuffle/UDF/scan regression.
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q_select_vars: projection and filter reach the parquet scan") {
    val p = plan("q_select_vars")
    assert(p.contains("PushedFilters: [IsNotNull(p_retailprice), GreaterThan(p_retailprice"), p)
    assert(p.contains("ReadSchema") &&
      !p.contains("p_name"), "scan reads columns beyond the projection")
  }

  test("events time-range filters push through normalizeTs to the parquet scan") {
    // the NTZ→session-UTC-timestamp cast in GraftSession.normalizeTs must
    // not block row-group pruning: at 100 TB a time-range scan that can't
    // prune on ts reads the whole table. Catalyst rewrites the comparison
    // onto the raw NTZ column — pin that.
    import org.apache.spark.sql.functions._
    val q = GraftSession.events(spark, sf)
      .filter(col("ts") >= lit("2024-01-03").cast("timestamp") &&
        col("ts") < lit("2024-01-05").cast("timestamp"))
      .groupBy(col("event_type")).agg(count(lit(1)))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("GreaterThanOrEqual(ts,") && p.contains("LessThan(ts,"),
      s"ts range must reach PushedFilters:\n${p.take(900)}")
  }

  test("q_funnel: stage chain is keyed aggs + equi-joins, no cartesian, no window") {
    val p = plan("q_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(800))
    assert(!p.contains("Window"),
      "funnel stages must be per-user min aggs + joins, not per-user window sorts")
    assert(p.contains("HashAggregate"), "per-user mins must map-side combine")
  }

  test("q_retention: cohort join keyed on user, counts map-side combined") {
    val p = plan("q_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(800))
    assert(!p.contains("Window") && !p.contains("Sort ["),
      "retention is two keyed aggs + one equi-join; nothing may sort globally")
  }

  test("q_sessionize: windows partition by user; no global sort above them") {
    val p = plan("q_sessionize")
    // per-user windows are the intended shape; the partitionBy must be the
    // user key so no single partition ever holds the whole log
    assert(p.contains("Window"), "gaps-and-islands needs the per-user window")
    assert(p.contains("windowspecdefinition(u#") || p.contains("partitionbyu") ||
      p.contains("windowspecdefinition(u "), // partition key is the user col
      s"window must partition by user:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("q_entropy_filter: two map-side-combined aggs, no joins at all") {
    val p = plan("q_entropy_filter")
    assert(!p.contains("Join"), "entropy scoring is scan → agg → agg only")
    assert(!p.contains("Window") && p.contains("HashAggregate"), p.take(600))
  }

  test("q_ann_rerank: shortlist re-rank joins are keyed; query side broadcast") {
    val p = plan("q_ann_rerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "re-rank must touch only shortlisted ids via equi-joins")
    assert(p.contains("BroadcastHashJoin"), "bounded query/LUT sides must broadcast")
  }

  test("q_triangles: wedge and closure joins are keyed, no cartesian") {
    val p = plan("q_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "triangle enumeration must stay keyed equi-joins")
  }

  test("q_attribution: one per-user window pass, no self-join") {
    val p = plan("q_attribution")
    assert(p.contains("Window"), "last-touch needs the per-user window")
    assert(!p.contains("Join"),
      "attribution is a window pass, never a purchases x views self-join")
  }

  test("q_bloom_join: inline probe leaves exactly one join (the exact one)") {
    val p = plan("q_bloom_join")
    val nJoins = "Join".r.findAllIn(p).length
    assert(p.contains("BroadcastHashJoin"), "exact join must broadcast the dim")
    assert(!p.contains("CartesianProduct"), p.take(400))
    // the probe side must contribute zero joins: bitmap rides inline
    assert(nJoins <= 4, s"probe must not join per hash function:\n${p.take(1200)}")
  }

  test("q_star_join: one fact shuffle, whole dimension chain broadcast") {
    val p = plan("q_star_join")
    assert(!p.contains("CartesianProduct"), p.take(600))
    // every dim join is a broadcast hash join
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBroadcast >= 4, s"expected >=4 broadcast joins, got $nBroadcast")
    // the only SortMergeJoin/shuffled join allowed is fact x fact
    val nShuffleJoin = "SortMergeJoin".r.findAllIn(p).length +
      "ShuffledHashJoin".r.findAllIn(p).length
    assert(nShuffleJoin <= 1, s"more than one shuffled join:\n${p.take(1500)}")
    // the region filter must reach the region scan
    assert(p.contains("LessThan(r_regionkey"), "filter not pushed to dim scan")
  }

  test("q_simhash_hamming: block join is an equi-join; codegen hamming, no HOF") {
    // audit the plan BEFORE the query's materialization boundary (the
    // declared query collects its result inside its Cuts scope, which
    // collapses the executed query to a LocalTableScan)
    val p = Cuts.withCuts { c =>
      graft.ops.PipelinePack.simhashHammingPlan(c, spark, sf)
        .queryExecution.executedPlan.toString
    }
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(600))
    assert(p.contains("hamming_dist"), "verification must use the codegen expression")
    assert(!p.contains("ArrayTransform") && !p.contains("ZipWith"),
      "no interpreted HOF chain in the candidate verification")
  }

  test("q_curation: corpus scanned twice, signature table cached for 3 readers") {
    // audit the plan BEFORE the materialization boundary (the declared
    // query collects its result inside its Cuts scope, which collapses
    // it to a LocalTableScan)
    val (fmt, exec) = Cuts.withCuts { c =>
      val res = graft.ops.PipelinePack.curationPlan(c, spark, sf)
      res.collect() // materialize the cache and AQE's final shape
      (res.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode),
        res.queryExecution.executedPlan.toString)
    }
    // the signature consumers (band-bucket branches + both Jaccard sides)
    // read the cache, not the corpus — tree form "InMemoryTableScan (n)"
    val nCacheReads = "InMemoryTableScan \\(\\d+\\)".r.findAllIn(fmt).length
    assert(nCacheReads >= 3, s"expected >=3 cache reads, got $nCacheReads:\n${fmt.take(1200)}")
    // the corpus parquet is scanned exactly twice in the TOP plan (once
    // into the cached signature pass, once for the survivor anti-join);
    // numbered operator lines exclude the cached plan's embedded text
    val nDocScans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(fmt).length
    assert(nDocScans <= 2, s"expected <=2 corpus scans, got $nDocScans")
    assert(!exec.contains("CartesianProduct"), exec.take(600))
  }

  test("q_group_quantiles: windows only ever see histogram rows") {
    val p = plan("q_group_quantiles")
    // the only sorts allowed are the per-group bucket/value histogram
    // windows; the raw events scan must not feed a sort directly
    assert(p.contains("BroadcastHashJoin"),
      "bucket targets must broadcast into the rescan")
    assert(!p.contains("rangepartitioning"),
      "no global range sort — quantiles come from histogram refinement")
  }

  test("q_cube_agg: one Expand + one aggregate, no per-grouping-set rescan") {
    val p = plan("q_cube_agg")
    assert(p.contains("Expand"), "CUBE must expand the lattice pre-shuffle")
    assert(!p.contains("Union"), "no per-set rescan union")
  }

  test("q_cube_diff: the two day grids share one scan+shuffle (ReusedExchange)") {
    // AQE materializes exchange reuse at runtime — execute, then inspect
    // the final adaptive plan
    val df = SparkEntry.queries("q_cube_diff")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      "per-day diff branches must reuse the shared (day,j,i) aggregation exchange")
  }

  test("q_zonal_stats: join-form rasterize is a bucket equi-join, not a nested loop") {
    val p = plan("q_zonal_stats")
    assert(p.contains("BroadcastHashJoin"), "bbox-grid bucket keys must make an equi join")
    assert(!p.contains("BroadcastNestedLoop"),
      "cells x features nested loop would not survive a large layer")
  }

  test("q_modern_curation: four stages, zero cartesians, no UDFs") {
    val p = plan("q_modern_curation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(600))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), "no UDFs")
  }

  test("q_substr_removal: no cartesian; rebuild joins are keyed anti/equi joins") {
    val p = plan("q_substr_removal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(800))
    assert(p.contains("LeftAnti"), "token deletion must be a keyed anti join")
    assert(!p.contains("Window"),
      "first-occurrence must be the map-side-combinable min(struct) agg, " +
        "not a row_number window (hot span hash would sort in ONE partition)")
  }

  test("q_substr_degenerate: skewed corpus plan carries no Window, no cartesian") {
    val p = plan("q_substr_degenerate")
    assert(!p.contains("Window"),
      "hot span hash must go through the min(struct) agg, not a window sort")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("LeftAnti"), "token deletion must stay a keyed anti join")
  }

  test("q_decontaminate_semantic_ivf: corpus probes cells via equi-join, " +
    "only the bounded centroid table nested-loops") {
    val p = plan("q_decontaminate_semantic_ivf")
    // the one allowed BNLJ is queries x centroid-table (4 rows, broadcast);
    // the corpus x bench comparison itself must be the __cell equi-join
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "corpus-cell probe must be a hash/merge equi-join:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("q_geotiff_nodata: masked read stays scan-shaped (no join, no UDF)") {
    val p = plan("q_geotiff_nodata")
    assert(!p.contains("Join") && !p.contains("ScalaUDF"), p.take(600))
  }

  test("q_dsir: scoring is scan-shaped — the quantized model is a literal, no join") {
    val sess = spark
    import sess.implicits._
    val df = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val model = graft.operators.ClassifierOps.dsirModel(df, "text",
      org.apache.spark.sql.functions.col("doc_id") === 1, 16)
    val p = graft.operators.ClassifierOps.dsirScore(df, Seq("doc_id"), "text", model)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "DSIR scoring must not join")
  }

  test("q_join_pricing: dimension side broadcast, no cartesian") {
    val p = plan("q_join_pricing")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_label_subset: tiny per-label aggregate broadcast back as semi join") {
    val p = plan("q_label_subset")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q_topk compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q_export_head compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("q_export_head")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q_domain_mix: config broadcast, sampling is scan-shaped") {
    val p = plan("q_domain_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange rangepartitioning") && !p.contains("Window"), p)
  }

  test("q_points_extract: cell gather is a broadcast join") {
    val p = plan("q_points_extract")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_ann_bucket: the corpus is never hash-repartitioned for the search") {
    val p = plan("q_ann_bucket")
    // queries broadcast into the bucketed corpus; the only exchange allowed
    // is the final small groupBy on (query_id, bucket)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_geom_mask: geometry predicate is codegen'd, not a UDF") {
    val p = plan("q_geom_mask")
    assert(p.contains("point_covered_by"), p)
    assert(!p.contains("UDF"), p)
  }

  test("q_dedup_near: no (shingle × perm) shuffle — only repartition, LSH join, distinct") {
    val p = plan("q_dedup_near")
    // signature computation is per-row: no HashAggregate keyed by a
    // shingle/perm column may appear (the fused distinct_shingles
    // EXPRESSION is the per-row form — exclude its name before scanning)
    assert(!p.toLowerCase.replace("distinct_shingles", "").contains("shingle"), p)
    assert(!p.contains("UDF"), p)
    // the bucket self-join is an equi-join, never a cartesian
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_ivf_ann_batch: one plan — corpus equi-join on the cell id, no cartesian") {
    val p = plan("q_ivf_ann_batch")
    // the only nested-loop allowed is the bounded queries × centroids
    // expansion (4 rows broadcast); the corpus side must join on __cell
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_dedup_near: candidate Jaccard join carries no forced broadcast hint") {
    // the candidate set is unbounded on a degenerate corpus; the join
    // strategy must be left to AQE, not forced by a broadcast() hint
    val analyzed = SparkEntry.queries("q_dedup_near")(spark, sf)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"), analyzed)
  }

  test("q_dedup_degenerate: no cartesian pair enumeration despite the clone cluster") {
    val p = plan("q_dedup_degenerate")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_rectify_triangular: bounded quad expansion, no cross join, codegen arithmetic") {
    val p = plan("q_rectify_triangular")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("UDF"), p)
    // first-wins resolves via one aggregate on the destination cell key
    assert(p.contains("min_by") || p.contains("minBy") || p.contains("HashAggregate"), p)
  }

  test("q_resample_space: aggregator downsample is ONE aggregation, no join") {
    val p = plan("q_resample_space")
    assert(!p.contains("Join"), s"downscale should not join:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q_coverage: subset predicates push into the scan; one block aggregation") {
    val p = plan("q_coverage")
    assert(p.contains("PushedFilters"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_affine_bicubic: 16-neighbor gather is an equi-join, not a cross join") {
    val p = plan("q_affine_bicubic")
    assert(p.contains("Join"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_resample_space_utm: transverse-mercator series is pure column arithmetic") {
    val p = plan("q_resample_space_utm")
    // the whole Snyder series must live in Project/Aggregate expressions —
    // no UDF, no python, no cross join anywhere in the route
    assert(!p.contains("UDF") && !p.contains("BatchEvalPython"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Project"), p)
  }

  test("q_asof_join: union-window form has NO join node at all") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), p) // matches SortMergeJoin/BroadcastHashJoin/…
    assert(p.contains("Window"), p)
    assert(p.contains("Union"), p)
  }

  test("q_range_join: interval containment is an equi-join on the grid cell") {
    val p = plan("q_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("__bucket"), p) // the equi-join key is the grid cell
  }

  test("q_seq_pack: per-shard window, no global sort, no join") {
    val p = plan("q_seq_pack")
    assert(p.contains("Window"), p)
    // the sort under the window is hash-partitioned by shard, never a
    // range-partitioned global sort
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_lm_coverage: the LM is bounded (TakeOrdered) and broadcast for scoring") {
    val p = plan("q_lm_coverage")
    assert(p.contains("TakeOrderedAndProject"), p) // top-V vocabulary prune
    assert(p.contains("BroadcastHashJoin"), p)     // model joins broadcast-side
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q_kmeans_step: assignment is scan-shaped — no join, one aggregation") {
    val p = plan("q_kmeans_step")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange rangepartitioning") && !p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_lm_coverage / q_seq_pack: no UDFs anywhere") {
    Seq("q_lm_coverage", "q_seq_pack").foreach { q =>
      val p = plan(q)
      assert(!p.contains("UDF") && !p.contains("BatchEvalPython"), s"$q:\n$p")
    }
  }

  test("q_semantic_dedup: in-cluster pairs are an equi-join, never all-pairs") {
    val p = plan("q_semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"), p) // the cid equi-join is the only join
  }

  test("q_chunk_windows: scan-shaped — no join, no window, no global sort") {
    val p = plan("q_chunk_windows")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("Generate"), p) // the window explode
  }

  test("q_calendar_julian: decode is pure scan arithmetic — no join/window/UDF") {
    val p = plan("q_calendar_julian")
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("UDF"), p)
    assert(!p.contains("Exchange rangepartitioning"), p) // one hash agg only
  }

  test("q_extra_dim_series: ONE shuffle — the widened (time, depth) groupBy") {
    val p = plan("q_extra_dim_series")
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("UDF"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$p")
  }

  test("q_gopher_rules: rule evaluation is scan-shaped, no UDF") {
    val p = plan("q_gopher_rules")
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("UDF"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_multimodal: encode+decode stay partition-wise — no shuffle before the final agg") {
    val p = plan("q_multimodal")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    // mapPartitions codec stages add SerializeFromObject/MapPartitions, not
    // exchanges; the only exchange is the final groupBy(source)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$p")
  }

  test("q_dedup_incremental: cross-corpus match is bucket equi-joins only") {
    val p = plan("q_dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(600))
    assert(!p.contains("Window"), p.take(400))
  }

  test("q_bloom_probe: k probes are broadcast word lookups — corpus never shuffled") {
    val p = plan("q_bloom_probe")
    // 5 hash-function probes + the exact-membership flag = 6 broadcast joins
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj == 6, s"expected 6 broadcast joins, got $bhj:\n${p.take(600)}")
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(600))
    // shuffles touch only the tiny blocklist/bitmap/final-agg sides: the
    // (doc_id, source, fp) corpus projection itself is never exchanged —
    // it would show as an Exchange directly over the documents scan
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for the probe")
  }

  test("q_stratified_sample: per-stratum selection is the heap aggregate, no window") {
    val p = plan("q_stratified_sample")
    assert(!p.contains("Window"), p.take(600))
    assert(p.contains("partial_collect_top_k"), p.take(600))
  }

  test("grouped top-k: kNN / PQ-ADC / IVF / lang-ID carry NO window — " +
    "per-group candidates go through the bounded-heap aggregate") {
    // per-query candidate lists scale with the corpus (and lang is a
    // low-cardinality key): a row_number window would funnel them through
    // single-partition sorts. The heap aggregate must appear as a partial
    // (map-side) + final ObjectHashAggregate pair, and no Window node.
    Seq("q_knn_cosine", "q_pq_adc", "q_ivf_ann_batch", "q_lang_id",
        "q_sq8_ann", "q_bm25").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q: window reintroduced:\n${p.take(800)}")
      assert(p.contains("partial_collect_top_k"),
        s"$q: expected a map-side partial collect_top_k:\n${p.take(800)}")
      assert(p.contains("ObjectHashAggregate"),
        s"$q: CollectTopK should plan as ObjectHashAggregate:\n${p.take(400)}")
    }
  }

  test("q_cms: probe side is broadcast lookups; counter build combines map-side") {
    val p = plan("q_cms")
    assert(p.contains("BroadcastHashJoin"),
      "counter lookups must be broadcast-hash probes")
    assert(!p.contains("SortMergeJoin"),
      "the probe side must never shuffle against the bounded counter table")
    assert(p.contains("partial_count"),
      "counter build must combine map-side (partial count before the shuffle)")
  }

  test("q_quantile_exact: no global sort of the data — windows see histograms only") {
    val p = plan("q_quantile_exact")
    // a global ORDER BY would plan as a rangepartitioning exchange over
    // the value column; the two-pass selection must never do that
    assert(!p.contains("rangepartitioning"),
      s"global sort reintroduced:\n${p.take(900)}")
    assert(p.contains("BroadcastHashJoin"),
      "pass-2 bucket filter must be a broadcast equi-join against the scan")
  }

  test("q_pca_step: keyed joins only, d-vector re-enters via broadcast") {
    val p = plan("q_pca_step")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"matvec must stay keyed:\n${p.take(600)}")
    assert(p.contains("BroadcastHashJoin"),
      "the d-row iterate must broadcast back into the exploded scan")
    assert(p.contains("partial_sum"),
      "per-dimension reduction must combine map-side")
  }

  test("BPE pair counting combines map-side over the word table") {
    import graft.operators.BpeOps
    val words = BpeOps.wordTable(
      GraftSession.table(spark, sf, "documents"), "text")
    val p = BpeOps.pairCounts(words).queryExecution.executedPlan.toString
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"pair counts must combine map-side before the shuffle:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q_jpeg: encode+decode is partition-local — no shuffle before the final agg") {
    val p = plan("q_jpeg")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"media codec pass must not join/shuffle the payload side:\n${p.take(600)}")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, // partial->final agg only
      s"expected only the aggregation exchange, found $exchanges:\n${p.take(800)}")
  }

  test("q_nfc: normalization is a codegen expression inside the scan stage, not a UDF") {
    val df = SparkEntry.queries("q_nfc")(spark, sf)
    df.collect() // AQE materializes the final (codegen'd) plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), "no UDFs")
    assert(p.contains("nfc_normalize"), s"expression missing:\n${p.take(600)}")
    // codegen stages print as `*(n)` in the executed plan's compact form
    assert(p.contains("*("), "must stay inside whole-stage codegen")
  }

  test("q_bigram_ppx: model joins are equi-joins; no cartesian beyond 1-row broadcasts") {
    val p = plan("q_bigram_ppx")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n${p.take(600)}")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), "no UDFs")
  }

  test("q_gm_transform: the coordinate field is one codegen projection " +
    "over range — no UDF, no join, no shuffle") {
    val df = SparkEntry.queries("q_gm_transform")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), "no UDFs")
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"pixel-center transform must stay a map-only projection:\n${p.take(800)}")
    assert(p.contains("Range"), "distributed range source")
    assert(p.contains("*("), "must stay inside whole-stage codegen")
  }

  test("q_resample_space_stereo / _eqearth: closed-form transforms are " +
    "codegen expressions; binning shuffles only on compact cell keys") {
    for (q <- Seq("q_resample_space_stereo", "q_resample_space_eqearth")) {
      val p = plan(q)
      assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
        s"$q: no UDFs")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"), s"$q:\n${p.take(600)}")
      assert(!p.contains("Window"), s"$q: no window")
    }
    // the Equal Earth transform (Newton solve included) is the one
    // projection expression, not a UDF
    val inv = graft.operators.SpatialOps.transformXY("EPSG:8857", "CRS84",
      org.apache.spark.sql.functions.lit(400000.0),
      org.apache.spark.sql.functions.lit(5.9e6))
    val exprs = spark.range(1).select(inv._1, inv._2)
      .queryExecution.analyzed.expressions
    assert(exprs.nonEmpty && exprs.forall(_.exists(
      _.isInstanceOf[graft.functions.ProjectXY])) &&
      !exprs.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])),
      s"inverse must route through the project_xy expression: $exprs")
    val q = SparkEntry.queries("q_resample_space_eqearth")(spark, sf)
    assert(q.queryExecution.optimizedPlan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.ProjectXY]))),
      "the query plan must run the project_xy expression")
  }

  test("Zarr-family cube queries read through the DSv2 cube scan, never an RDD scan") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val cubeQueries = Seq("q_zarr", "q_zarr_multivar", "q_zarr_s3", "q_zarr_http",
      "q_zarr_ftp", "q_unchunk", "q_zarr_append", "q_zarr_blosc", "q_zarr_v3",
      "q_zarr_v3_sharded", "q_stream_zarr", "q_kerchunk", "q_kerchunk_hdf5",
      "q_kerchunk_lazy", "q_kerchunk_combine")
    for (q <- cubeQueries) {
      val leaves = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
        .collectLeaves()
      assert(leaves.nonEmpty && leaves.forall {
        case b: BatchScanExec => b.scan.getClass.getName.startsWith("graft.sources.zarr.")
        case _ => false
      }, s"$q: every leaf must be a graft cube scan: $leaves")
      assert(!leaves.exists(_.isInstanceOf[RDDScanExec]), s"$q: $leaves")
    }
  }
}
