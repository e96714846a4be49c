package graft.tools

import graft.{Fixtures, GraftSession, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling soak: clones the sf-dir tables `factor`× (keys offset; documents
  * salted so near-dup structure replicates per copy instead of collapsing
  * into quadratic clone clusters; embeddings perturbed per copy) and
  * compares per-query wall time at 1× vs factor×. The point is to catch
  * ACCIDENTALLY super-linear operators — quadratic constants, unbounded
  * candidate sets, driver-side loops — before a larger scale factor does.
  *
  * Usage: runMain graft.tools.ScaleSoak [baseDir] [factor] [outDir]
  * Prints a per-query table + one JSON line; exits 1 if any soaked query
  * grew more than MaxGrowth × factor.
  */
object ScaleSoak {

  /** Queries with linear expected growth under the salted clone corpus —
    * the expensive representatives of each operator family.
    */
  val SoakQueries: Seq[String] = Seq(
    "q1_agg", "q_select_vars", "q_subsample", "q_resample_8d",
    "q_timeseries_geom", "q_tile_gather", "q_fingerprint", "q_simhash_bands",
    "q_dedup_near", "q_curation", "q_knn_cosine", "q_ann_bucket",
    "q_embed_near_dup", "q_skew_join", "q_repetition", "q_pii_scrub",
    // round-6 additions: cluster resolution (edges replicate per salted
    // copy), decontamination (bench set grows linearly, stays broadcast),
    // packing (per-shard window), the LM coverage filter (bounded model),
    // the k-means step + semantic dedup (scan assignment, per-cluster
    // join), RAG chunk windows (scan) and the dataset diff (keyed join)
    "q_dedup_clusters", "q_decontaminate", "q_seq_pack", "q_lm_coverage",
    "q_kmeans_step", "q_semantic_dedup", "q_chunk_windows", "q_cube_diff",
    // round-7 additions that scale with the fact tables: julian-calendar
    // decode (scan arithmetic), per-depth-label series (wider groupBy key),
    // and the REAL multimodal encode+decode (per-document BMP/WAV codec
    // work — the per-row cost a superlinear bug would hide in)
    "q_calendar_julian", "q_extra_dim_series", "q_multimodal",
    // exact-substring spans: window explode + hash-keyed distinct count
    "q_exact_substring",
    // round-7 pipeline additions: span REMOVAL (rebuild cost must track
    // duplicated volume), the LR gradient step (two keyed aggregations),
    // DSIR (model agg + integer-dot scoring scan), PQ/ADC search (encode
    // scan + code equi-join), semantic decontamination (broadcast bench
    // scan), join-form zonal stats (broadcast spatial join)
    "q_substr_removal", "q_lr_step", "q_dsir",
    "q_pq_adc", "q_decontaminate_semantic", "q_zonal_stats",
    // round-9 additions: Bloom blocklist probe (bitmap build grows with
    // the blocklist, probe is k broadcast lookups per row), stratified
    // sampling + lang-ID (bounded-heap grouped top-k — per-group state
    // must stay k rows however large the groups grow)
    "q_bloom_probe", "q_stratified_sample", "q_lang_id",
    // cross-corpus incremental dedup: corpus-side bucket counts + the
    // cross equi-join both grow linearly
    "q_dedup_incremental", "q_sq8_ann",
    // round-10 additions: BM25 retrieval (filtered tokenize + broadcast
    // idf/query tables — corpus-side work must stay one scan) and
    // PageRank over the LSH-capped near-dup graph (edge list linear in
    // corpus, three keyed-join iterations)
    "q_bm25", "q_pagerank",
    // round-10 sketch/selection tier: CMS (counter table must stay
    // depth×width however large the corpus), HLL (1024 registers), exact
    // two-pass quantiles (histogram windows must stay histogram-sized),
    // PCA power iteration (explode + keyed aggs, d-way group skew is
    // map-side combined), bigram perplexity (model joins + long sums)
    "q_cms", "q_hll", "q_quantile_exact", "q_pca_step", "q_bigram_ppx",
    // BPE training: per-step cost must be vocabulary-sized, not
    // corpus-sized (the word-frequency table is the whole training input)
    "q_bpe_train",
    // real-codec media paths: per-document JPEG encode+decode, the
    // decode→resample→re-encode chain, and frame-wise audio features —
    // all partition-local per-row codec work that must stay linear
    "q_jpeg", "q_media_resize", "q_audio_features", "q_image_features",
    "q_nfc", "q_domain_temperature",
    // behavioral analytics (user key space grows with the copies: the
    // funnel's join chain, retention's cohort join and the per-user
    // session windows must all stay linear), the tokenizer encode pass
    // (corpus-sized scan parameterized by the 6-row merge table), the
    // char-entropy filter (explode + two map-side aggs) and the
    // coarse-to-fine re-rank (shortlist-bounded joins)
    "q_funnel", "q_retention", "q_sessionize", "q_bpe_encode",
    "q_entropy_filter", "q_ann_rerank",
    // simhash hamming verification (capped block join + codegen compare),
    // grouped quantiles (per-group histogram windows), label propagation
    // (3 keyed-join rounds on the capped edge list), the CUBE lattice
    // (one Expand+agg — 4x the rows of the base agg, still linear) and
    // the GIF decode scan (per-payload LZW, partition-local)
    "q_simhash_hamming", "q_group_quantiles", "q_label_prop", "q_cube_agg",
    "q_gif",
    // JSON path parse per row (the CPU-per-row shape), the ranking-window
    // pass (per-user sorts), the pivot single-agg, the star join (one
    // fact shuffle + broadcast chain) and the bloom-prefiltered join
    // (bitmap stays m/64 rows however large the fact side grows)
    "q_json_extract", "q_window_rank", "q_pivot", "q_star_join",
    "q_bloom_join",
    // per-payload PCM decimation chain and the salted two-phase hot-key
    // aggregation (5-key space: the salt IS the scale story)
    "q_audio_resample", "q_skew_agg",
    // edit-distance verification on LSH-capped candidates (metric cost
    // bounded by the candidate set) and the per-user transition windows
    "q_fuzzy_dedup", "q_event_transitions",
    // wedge-closure triangle joins (capped edge list), the attribution
    // window pass, sliding ROWS/RANGE frames and the manifest aggregation
    "q_triangles", "q_attribution", "q_rolling", "q_export_manifest",
    // per-segment HLL (register table = groups × 1024 however large the
    // groups), the deduped audience self-join (per-user fanout ≤ |types|²)
    // and the cohort LTV cumulative (window over cohort×offset cells)
    "q_hll_grouped", "q_audience_overlap", "q_cohort_value",
    // inter-arrival lag windows and the Zipf top-30 slope (vocabulary-
    // bounded heap + 30-row regression)
    "q_interarrival", "q_zipf",
    // round-17: incremental cluster identity — the full CC over the old
    // pairs scales with the corpus, but the incremental fold on top of
    // it must add only batch-shaped work (batch-sized component graph +
    // broadcast label rewrites)
    "q_dedup_clusters_incremental",
    // round-17 CRS families: per-row closed-form trig + the same
    // downscale/rectify binning as the mercator/UTM routes — one scan,
    // two map-side-combined aggregations, linear by construction
    "q_resample_space_ps", "q_resample_space_laea", "q_resample_space_sinu",
    // round-18 CRS families: scan + closed-form transform + target-cell
    // binning — linear by construction, soaked to prove the geos
    // visibility guards / EASE authalic series / Mollweide Newton
    // expression stay per-row constants under volume
    "q_resample_space_geos", "q_resample_space_ease",
    "q_resample_space_moll",
    // round-19 additions: two more closed-form families (double
    // stereographic on per-CRS ellipsoid constants; Equal Earth's
    // authalic composition + codegen Newton) and the distributed
    // grid-mapping transform (O(pixels) coordinate field + one bbox
    // aggregate — constant per-row work by construction)
    "q_resample_space_stereo", "q_resample_space_eqearth",
    "q_gm_transform", "q_resample_space_hom",
    // round-20 CRS families (ellipsoidal Mercator, equidistant
    // cylindrical, Gauss-Kruger tmerc): same scan + closed-form
    // transform + binning shape as every registered family — linear by
    // construction; plus the ij-transform affine gate (pure dyadic
    // arithmetic per row) and the fixture-read incremental CC fold
    // (batch-shaped work over a corpus-sized broadcast label table)
    "q_resample_space_merc", "q_resample_space_eqc", "q_resample_space_gk",
    "q_ij_transform", "q_resample_space_lcc2")

  /** Deep-soak subset (run at 30×): the newest heavy operators. The
    * format-fixture queries (kerchunk combine, COG levels, zarr append)
    * aggregate onto a FIXED 360×100 grid, so their read side is
    * resolution-bound by design — the scaled input lands in the once-only
    * fixture build; a ratio near 1 is the EXPECTED proof that reads do not
    * grow with corpus size.
    */
  val DeepSoakQueries: Seq[String] = Seq(
    "q_kerchunk_combine", "q_cog_levels", "q_zarr_append",
    "q_seq_pack", "q_semantic_dedup", "q_dedup_clusters", "q_multimodal",
    // round-7 heavy additions: span removal (rebuild ~ duplicated volume),
    // the four-stage curation funnel, bucketed zonal stats, PQ/ADC search
    "q_substr_removal", "q_modern_curation", "q_zonal_stats", "q_pq_adc",
    // round-9: incremental dedup, SQ8 search, Bloom probe at 30×
    "q_dedup_incremental", "q_sq8_ann", "q_bloom_probe",
    // round-10: bigram LM (model joins grow with the reference slice),
    // BPE training (word table grows sublinearly), JPEG codec work
    // (per-row, must stay linear), exact quantiles (histogram-bounded)
    "q_bigram_ppx", "q_bpe_train", "q_jpeg", "q_quantile_exact",
    // round-10 continued: the tokenizer encode pass (corpus-sized scan),
    // label propagation (keyed-join rounds), the two-stage re-rank
    "q_bpe_encode", "q_label_prop", "q_ann_rerank",
    // round-17: the incremental CC fold at 30x — the deep soak's point
    // is that the incremental path's cost stays dominated by the one-off
    // full CC over the old pairs, not the batch fold
    "q_dedup_clusters_incremental")

  /** Skew soak (run at 30× vs an identically-SHAPED 1× corpus): the
    * curation-path queries whose scale safety depends on hot-KEY handling,
    * not just volume — the planted skew grows with the factor: one shared
    * 20-token boilerplate span opens 1/16 of every copy's documents (the
    * ExactSubstr hot key: its span-hash multiplicity is factor·N/16), and
    * 64 unsalted template clones per copy pile into one LSH bucket family
    * (factor·64 members — far past the candidate cap, which must drop it
    * BEFORE pair enumeration).
    */
  val SkewSoakQueries: Seq[String] = Seq(
    "q_substr_removal", "q_exact_substring", "q_dedup_near",
    "q_dedup_clusters", "q_curation", "q_modern_curation",
    // round-12 additions: the planted EMBEDDING hot bucket (identical
    // clones growing with the factor: 500·f members share one sign bucket
    // AND one k-means cluster — under the 10000 default cap at 1×, past
    // it at 30×, so the capped joins must cross from enumerate to drop),
    // and the BOT USER holding ~10% of all events (per-user windows /
    // session state must stay linear in that one key's volume)
    "q_embed_near_dup", "q_semantic_dedup", "q_sessionize",
    "q_stream_sessionize")

  /** Allowed growth multiple of `factor` before a query is flagged. The
    * salted documents are ~2× longer than the originals (a salt token in
    * every gap), so text-heavy queries legitimately run at ~2 × factor.
    */
  val MaxGrowth: Double = 2.5

  /** The planted-skew constants (mirrors the q_substr_degenerate /
    * q_dedup_degenerate shapes, but GROWING with the soak factor).
    */
  private val SoakBoiler = (0 until 20).map(i => s"soakboiler$i").mkString(" ")
  private val ClonesPerCopy = 64
  /** Identical embedding clones planted per copy in skew mode (mirrors
    * q_embed_degenerate, but growing with the factor): 500·f members in
    * ONE sign bucket / k-means cluster — below the 10000 default cap at
    * 1× (pairs enumerate), above it at 30× (bucket dropped + reported).
    */
  private val EmbClonesPerCopy = 500
  /** The skew-mode bot: ~10% of every copy's events collapse onto this
    * one user_id (the crawler/bot shape every behavioral pipeline meets).
    */
  private val BotUserId = 424242424L

  def buildScaled(spark: SparkSession, base: String, out: String, f: Int,
                  skew: Boolean = false): Unit = {
    def copies(t: String)(tag: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$base/$t.parquet")
      (0 until f).map(c => tag(src, c)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    // dimensions stay 1×: fact-side joins scale linearly against them
    for (t <- Seq("region", "nation", "supplier", "customer"))
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    copies("part")((d, c) =>
      d.withColumn("p_partkey", col("p_partkey") + c * 1000000000L))
    copies("orders")((d, c) =>
      d.withColumn("o_orderkey", col("o_orderkey") + c * 1000000000L))
    copies("lineitem")((d, c) =>
      d.withColumn("l_orderkey", col("l_orderkey") + c * 1000000000L))
    // events: offsets are multiples of the %360 / %100 grid moduli, so the
    // derived cube's spatial distribution is copy-invariant; a +c microsecond
    // nudge keeps timestamps distinct across copies (ts may be stored as raw
    // nanos Long or as TIMESTAMP depending on the testdata generation)
    copies("events")((d, c) => {
      val tsShift = d.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => col("ts") + c
        // cast first: TIMESTAMP_NTZ is rejected by unix_micros, and the
        // session is pinned UTC so the cast is value-preserving
        case _ => timestamp_micros(unix_micros(col("ts").cast("timestamp")) + c)
      }
      // skew mode: ~10% of EVERY copy's events belong to one bot user —
      // the hot key's volume grows with f while every other user stays
      // copy-local; per-user windows and session state must absorb it
      val uid =
        if (skew) when(col("event_id") % 10 === 0, lit(BotUserId))
          .otherwise(col("user_id") + c * 100000L)
        else col("user_id") + c * 100000L
      d.withColumn("event_id", col("event_id") + c * 360000000L)
        .withColumn("user_id", uid)
        .withColumn("ts", tsShift)
    })
    // documents: every inter-token gap gets a copy-specific salt token →
    // shingle sets of different copies are DISJOINT, so near-dup pairs
    // replicate per copy (linear) instead of every copy family becoming
    // one quadratic clone cluster (that degenerate case has its own
    // oracle query, q_dedup_degenerate)
    def salted(d: DataFrame, c: Int): DataFrame =
      if (c == 0) d
      else d.withColumn("doc_id", col("doc_id") + c * 10000000L)
        .withColumn("text", regexp_replace(col("text"), " ", s" c$c "))
    if (!skew) copies("documents")(salted)
    else {
      // skewed corpus: the SAME boilerplate span opens doc_id % 16 == 0 of
      // every copy (the offset is a multiple of 16, so each copy plants it
      // on the same underlying docs — the span hash multiplicity grows
      // with f), plus ClonesPerCopy UNSALTED template clones per copy
      // (one ever-hotter LSH bucket family, far past the candidate cap)
      val src = spark.read.parquet(s"$base/documents.parquet")
      val withBoiler = (0 until f).map { c =>
        salted(src, c).withColumn("text",
          when(col("doc_id") % 16 === 0,
            concat(lit(SoakBoiler + " "), col("text")))
            .otherwise(col("text")))
      }.reduce(_ unionByName _)
      val one = src.orderBy("doc_id").limit(1).drop("doc_id")
      val clones = spark.range(ClonesPerCopy.toLong * f)
        .select((col("id") + 900000000L).as("doc_id"))
        .crossJoin(broadcast(one))
        .select(src.columns.map(col).toIndexedSeq: _*)
      withBoiler.unionByName(clones)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }
    def perturbed(d: DataFrame, c: Int): DataFrame =
      if (c == 0) d
      else d.withColumn("vec_id", col("vec_id") + c * 10000000L)
        .withColumn("embedding", transform(col("embedding"),
          x => (x + lit(c * 0.001f)).cast("float")))
    if (!skew) copies("embeddings")(perturbed)
    else {
      // planted embedding hot bucket: EmbClonesPerCopy·f IDENTICAL copies
      // of one vector (no per-copy perturbation — they must share one sign
      // bucket and one k-means cluster). At 1× the bucket is under the
      // default cap and its pairs enumerate; at 30× it crosses the cap and
      // must be dropped BEFORE the self-join — the crossover this soak
      // exists to time.
      val src = spark.read.parquet(s"$base/embeddings.parquet")
      val all = (0 until f).map(c => perturbed(src, c)).reduce(_ unionByName _)
      val tmpl = src.orderBy("vec_id").limit(1).drop("vec_id")
      val clones = spark.range(EmbClonesPerCopy.toLong * f)
        .select((col("id") + 900000000L).as("vec_id"))
        .crossJoin(broadcast(tmpl))
        .select(src.columns.map(col).toIndexedSeq: _*)
      all.unionByName(clones)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
  }

  /** Usage: runMain graft.tools.ScaleSoak [baseDir] [factor] [outDir]
    * [queryList|"deep"|"skew"] — "deep" selects [[DeepSoakQueries]];
    * "skew" selects [[SkewSoakQueries]] over the PLANTED-SKEW corpus,
    * compared against an identically-shaped skewed 1× build (so the ratio
    * isolates growth in the factor, not the planting itself).
    */
  def main(args: Array[String]): Unit = {
    val baseRaw = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val skewMode = args.lift(3).contains("skew")
    val out = args.lift(2).getOrElse(
      s"${Fixtures.root}/soak${if (skewMode) "skew" else ""}_x$factor")
    val selected = args.lift(3) match {
      case Some("deep") => DeepSoakQueries
      case Some("skew") => SkewSoakQueries
      case Some(list) => list.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      case None => SoakQueries
    }
    val spark = GraftSession.get()
    Fixtures.ensureWritten(out, s"base=$baseRaw,factor=$factor,salt=v2,skew=$skewMode") {
      buildScaled(spark, baseRaw, out, factor, skew = skewMode)
    }
    val base = if (!skewMode) baseRaw else {
      val b1 = s"${Fixtures.root}/soakskew_x1"
      Fixtures.ensureWritten(b1, s"base=$baseRaw,factor=1,salt=v2,skew=true") {
        buildScaled(spark, baseRaw, b1, 1, skew = true)
      }
      b1
    }
    def timeQ(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      // noop sink, NOT count(): count() on an aggregated plan lets Catalyst
      // prune the aggregate value expressions, under-measuring exactly the
      // per-row arithmetic a superlinear regression would live in
      SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    selected.foreach(q => timeQ(q, base)) // untimed warmup: JIT + codegen
    // warm the SCALED dir too: fixture-backed queries (streaming twins,
    // the incremental-CC labels table, the ftp/http zarr mounts) build
    // their once-per-checkout layout inside the first invocation — left
    // unwarmed, that one-time write lands in the timed region and reads
    // as a superlinear operator (the r20 incremental-CC fixture measured
    // 94x where the fold itself is 1.5x)
    selected.foreach(q => timeQ(q, out))
    val rows = selected.map { q =>
      val tb = timeQ(q, base)
      val ts = timeQ(q, out)
      (q, tb, ts, ts / math.max(tb, 1e-3))
    }
    val bound = MaxGrowth * factor
    println(f"${"query"}%-20s${"t_1x"}%8s${"t_Nx"}%8s${"ratio"}%8s   factor=$factor bound=$bound%.0f")
    var bad = 0
    rows.foreach { case (q, tb, ts, r) =>
      val flag = if (r > bound) { bad += 1; "  SUPERLINEAR" } else ""
      println(f"$q%-20s$tb%8.2f$ts%8.2f$r%8.1f$flag")
    }
    val qs = rows.map { case (q, _, _, r) => s""""$q":${f"$r%.2f"}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"soak_ratio","factor":$factor,"bound":$bound,"ratios":$qs,"superlinear":$bad}""")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
