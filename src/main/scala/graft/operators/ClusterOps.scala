package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the cluster-resolution
  * step that turns near-duplicate PAIRS (LSH + Jaccard, `TextOps`) into
  * duplicate CLUSTERS so a curation pipeline can keep one canonical document
  * per cluster. The reference's dedup surface stops at pairs; every real
  * pre-training pipeline runs this afterwards.
  *
  * Algorithm: alternating large-star / small-star contraction (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC'14 — public).
  * Each round is two shuffle stages built from groupBy-min + equi-join; the
  * edge set converges to a star per component (every node pointing at the
  * component minimum) in O(log n) rounds regardless of graph diameter — the
  * property that makes it the right shape at 100 TB, where label propagation
  * (O(diameter) rounds) dies on long chains.
  *
  * Scale notes:
  *  - the per-node reduction is `min`, computed by groupBy (map-side
  *    combined) — no neighborhood is ever collected into one row, so a
  *    109-degree hub node costs the same as a degree-2 node;
  *  - every round is a cut in the caller's [[graft.Cuts.Scope]] (see
  *    [[graft.Cuts]] for the lineage-recovery contract); the superseded
  *    round is released as soon as the next one is materialized, and the
  *    converged one when the caller's scope closes. Because a persist does
  *    not truncate the LOGICAL plan (it would double per round and drown
  *    the optimizer), every round re-exposes its cut through a fresh
  *    LogicalRDD, and every `CheckpointEvery` rounds the edge set takes a
  *    RELIABLE `checkpoint()` to the Spark checkpoint dir, which bounds the
  *    RDD lineage depth. On a cluster, point
  *    `spark.sparkContext.setCheckpointDir` at durable storage; when
  *    unset, a local temp dir is used (correct in local mode, and the
  *    library never silently skips the cut). Checkpoint files live until
  *    application end unless `spark.cleaner.referenceTracking
  *    .cleanCheckpoints` is on;
  *  - the convergence probe is one count + one except per round, against
  *    edge sets that SHRINK every round (toward one edge per non-root node).
  */
object ClusterOps {

  /** Rounds between reliable checkpoints. With the logical plan
    * truncated every round (createDataFrame over the persisted RDD —
    * each star round embeds ~16 copies of the prior plan, and
    * untruncated the analyzer plus the SQL listener's plan
    * stringification grow 16^k), this bounds only the RDD lineage depth
    * and the executor-loss recomputation window.
    */
  private val CheckpointEvery = 5

  /** Reliable plan truncation; ensures a checkpoint dir exists. */
  private def cutReliable(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(java.nio.file.Files.createTempDirectory(
        "graft-checkpoint").toString)
    df.checkpoint()
  }

  /** (node, comp) labels for every endpoint of `edges`, where `comp` is the
    * smallest node id in the connected component. Self-loops are ignored;
    * edge direction is irrelevant. Deterministic (min-based throughout).
    *
    * The converged edge set stays kept in `c`, so the returned (lazy)
    * labels read the cache: consume them inside the caller's scope.
    */
  def connectedComponents(c: graft.Cuts.Scope, edges: DataFrame,
                          aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame = {
    val e0 = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    // (count, xxhash64 checksum): the round's materialization action AND
    // its convergence signature in ONE aggregate job. The signature is a
    // cheap probe only — the sound set-equality `except` runs just when
    // the probe matches (in practice exactly once, at the fixpoint), so
    // the per-round cost is one codegen aggregate instead of two counts
    // plus an anti-join. A hash collision cannot terminate early with a
    // wrong answer: `except` stays the arbiter.
    def signature(df: DataFrame): (Long, Long) = {
      // hash mod a prime keeps the running sum within Long for any
      // realistic edge count (ANSI mode would fail loudly, not wrap, if
      // a 2^33-edge graph ever neared the bound)
      val r = df.agg(count(lit(1)),
        sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L)))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val first = c.keep(canonical(e0))
    var curSig = signature(first)
    // the loop bodies re-plan under a twin sized from the first round's
    // exact edge count instead of running ~6 rounds of near-empty
    // full-width stages at the configured count
    var cur = graft.Cuts.sized(edges.sparkSession, curSig._1 * 64)
      .createDataFrame(first.rdd, first.schema)
    var curKept = first
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // kept BEFORE the periodic reliable checkpoint: an uncached dataset
      // is computed twice by checkpoint() (action + write job) — cached,
      // both jobs read the cache. The signature aggregate is the
      // materializing action; createDataFrame(rdd) truncates the LOGICAL
      // plan every round.
      val round = c.keep(smallStar(largeStar(cur)))
      val nextSig = signature(round)
      val view = round.sparkSession.createDataFrame(round.rdd, round.schema)
      val next =
        if ((it + 1) % CheckpointEvery == 0) cutReliable(view) else view
      // fixpoint = identical edge SETS; both sides are distinct, so equal
      // counts + empty one-sided difference suffice
      converged = nextSig == curSig && next.except(cur).isEmpty
      c.release(curKept)
      cur = next
      curKept = round
      curSig = nextSig
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    // converged edge set is a star per component: (child, root) with
    // root = component min; add the root's own label row
    cur.select(col("u").as("node"), col("v").as("comp"))
      .unionByName(cur.select(col("v").as("node"), col("v").as("comp")).distinct())
      .distinct()
  }

  /** Fold a NEW batch of near-dup pairs into an EXISTING canonical-id
    * table WITHOUT re-resolving the corpus — the operational other half
    * of incremental dedup (`TextOps.candidatePairsAgainst` finds
    * batch-vs-corpus pairs; this folds them into cluster identity).
    *
    * Each batch endpoint maps to its current component id (itself when
    * unlabeled), full CC runs over the BATCH-SIZED component graph
    * alone, and the old-root → new-root mapping rewrites only touched
    * labels. Because every canonical id is its component's minimum
    * node id, the merged root is the minimum over the merged members —
    * exactly what a from-scratch CC over the unioned pair set yields —
    * and an untouched component's root cannot change: canonical-id
    * stability for free.
    *
    * Exchange discipline at 100 TB: `labels` is NEVER shuffled. The
    * batch node set broadcast-semi-joins it (one scan), the component
    * graph and its CC are batch-sized, and the label rewrite is one
    * more scan with a broadcast left join. Per-ingest cost is
    * O(scan(labels)) + O(CC(batch)), not O(CC(corpus)).
    *
    * @param labels   existing (node, comp) canonical-id table
    * @param newPairs the new batch's near-dup pairs
    * @return the updated (node, comp) table (existing ∪ new nodes)
    */
  def incrementalCC(labels: DataFrame, newPairs: DataFrame,
                    aCol: String = "u", bCol: String = "v"): DataFrame = {
    val lbl = labels.select(col("node").cast("long").as("node"),
      col("comp").cast("long").as("comp"))
    val e0 = newPairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val nodes = e0.select(col("u").as("node"))
      .unionByName(e0.select(col("v").as("node"))).distinct()
    // the batch endpoints' CURRENT labels: a batch-sized slice of the
    // corpus table, extracted by ONE labels scan with the batch node set
    // broadcast, then collected into a local relation so nothing
    // downstream re-executes the scan
    val spark = labels.sparkSession
    val touchedDist = lbl.join(broadcast(nodes), Seq("node"), "left_semi")
    val touched = spark.createDataFrame(
      java.util.Arrays.asList(touchedDist.collect(): _*), touchedDist.schema)
    val compOf = nodes.join(broadcast(touched), Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("comp"), col("node")).as("c"))
    // batch component graph: pairs lifted to component ids; intra-
    // component pairs vanish. Everything here is batch-sized.
    val compEdges = e0
      .join(broadcast(compOf.select(col("node").as("u"), col("c").as("cu"))),
        Seq("u"))
      .join(broadcast(compOf.select(col("node").as("v"), col("c").as("cv"))),
        Seq("v"))
      .select(col("cu"), col("cv")).filter(col("cu") =!= col("cv"))
    // old root (or new node id) → new root. CC over the tiny component
    // graph runs as a LOCAL union-find: the graph is batch-sized by
    // construction (≤ one edge per batch pair, already lifted to
    // component ids) and its RESULT was collected here anyway — running
    // the distributed star-contraction to produce a local table paid
    // ~10 persist+count rounds of near-empty 32-task stages, pure
    // scheduler latency that dominated the whole fold (7.6 s at sf0.1
    // on a 70 ms/stage scheduler). Collecting the INPUT is bounded by
    // the same batch-size argument as `touched` and the mapping itself.
    // Union attaches the larger root under the smaller, so every final
    // root is the component minimum — identical semantics to
    // [[connectedComponents]].
    val ce = compEdges.collect()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) {
        val n = parent.getOrElse(c, c); parent(c) = r; c = n
      }
      r
    }
    ce.foreach { row =>
      val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val mappingRows: Array[org.apache.spark.sql.Row] = ce
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      .map(n => org.apache.spark.sql.Row(n, find(n)))
    val mappingSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("oc",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("nc",
        org.apache.spark.sql.types.LongType)))
    val mapping = spark.createDataFrame(
      java.util.Arrays.asList(mappingRows: _*), mappingSchema)
    // rewrite: one labels scan with a broadcast left join; new nodes
    // (batch-sized anti against the TOUCHED slice, never the corpus)
    // enter with their mapped root, or themselves when their every pair
    // was intra-component
    val rewritten = lbl.join(broadcast(mapping), col("comp") === col("oc"),
        "left_outer")
      .select(col("node"), coalesce(col("nc"), col("comp")).as("comp"))
    nodes.join(broadcast(touched.select("node")), Seq("node"), "left_anti")
      .join(broadcast(mapping), col("node") === col("oc"), "left_outer")
      .select(col("node"), coalesce(col("nc"), col("node")).as("comp"))
      .unionByName(rewritten)
  }

  /** Edges deduplicated in (larger, smaller) orientation. */
  private def canonical(e: DataFrame): DataFrame =
    e.select(greatest(col("u"), col("v")).as("u"),
             least(col("u"), col("v")).as("v"))
      .distinct()

  /** Large-star: every node u links its strictly-LARGER neighbors to
    * m = min(N(u) ∪ {u}). One groupBy-min + one join, both on `u`.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val dir = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val m = dir.groupBy("u").agg(min(least(col("v"), col("u"))).as("m"))
    // no distinct here: duplicates are bounded by node degree and the
    // round's OUTPUT is deduplicated in smallStar — one less exchange per
    // round, and the per-round exchange count is what dominates (the edge
    // set shrinks toward one edge per node almost immediately)
    dir.join(m, "u")
      .filter(col("v") > col("u") && col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star: every node u links its smaller-or-equal neighborhood (and
    * itself) to its minimum. Input re-canonicalized so all edges point
    * downward; output edges are (child, root) with root < child.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val c = e.select(greatest(col("u"), col("v")).as("u"),
                     least(col("u"), col("v")).as("v"))
    val m = c.groupBy("u").agg(min(col("v")).as("m"))
    val withM = c.join(m, "u")
    withM.filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(withM.select(col("u"), col("m").as("v")))
      .distinct()
  }
}
