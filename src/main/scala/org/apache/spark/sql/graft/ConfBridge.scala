package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic

/** Per-plan conf scoping WITHOUT mutating shared session state.
  * `cloneSession` and `Dataset.ofRows` are `private[sql]`, so this shim
  * lives inside the `org.apache.spark.sql` package tree (same pattern
  * as [[ColumnBridge]]).
  *
  * A thread-local `SQLConf` override is NOT enough here: most Catalyst
  * rules read `SQLConf.get` (thread-local first), but
  * `InsertAdaptiveSparkPlan` reads the session's own conf — verified on
  * 4.1.2: under a thread-local `spark.sql.adaptive.enabled=false` the
  * aggregate still planned as `AdaptiveSparkPlan`. So instead each root
  * session gets ONE lazily-created clone ("quiet twin") carrying the
  * overrides; plans are rerooted onto it via their analyzed plan. The
  * clone shares the SparkContext, (at clone time) catalog/temp views
  * and, under [[graft.GraftSession.builder]], the root's compiled
  * generated code; its conf is never mutated after creation, and the root
  * session's conf is never touched — concurrent queries on the root
  * keep AQE, concurrent quiet folds race on nothing.
  */
object ConfBridge {

  // WEAKLY keyed by the root session so a stopped/dereferenced session
  // (and its clone) can be collected — a static strong map would pin
  // every session a long-lived driver ever created. The values hold the
  // clones through SOFT references: a clone strongly references its
  // parent (cloneSession retains parentSessionState whose closures
  // capture the root), so a strong value would keep its own weak key
  // reachable forever and defeat the eviction (ADVICE r19). Softly-held
  // clones survive until memory pressure (cache semantics) and are
  // simply re-cloned if collected between uses. Guarded by its own
  // monitor (WeakHashMap is not thread-safe); clone creation is cheap
  // and rare, so the lock is uncontended in practice.
  private val twins =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[
      String, java.lang.ref.SoftReference[SparkSession]]]()

  /** The cached clone of `spark` carrying `overrides` (created once per
    * (session, overrides) pair; re-created if the soft reference was
    * collected under memory pressure). */
  def twinSession(spark: SparkSession,
                  overrides: Map[String, String]): SparkSession =
    twins.synchronized {
      val byOverrides = {
        val cur = twins.get(spark)
        if (cur != null) cur
        else {
          val m = scala.collection.mutable.Map
            .empty[String, java.lang.ref.SoftReference[SparkSession]]
          twins.put(spark, m)
          m
        }
      }
      val key = overrides.toSeq.sorted.mkString(";")
      byOverrides.get(key).flatMap(r => Option(r.get())).getOrElse {
        val q = spark.asInstanceOf[classic.SparkSession].cloneSession()
        overrides.foreach { case (k, v) => q.conf.set(k, v) }
        byOverrides(key) = new java.lang.ref.SoftReference(q)
        q
      }
    }

  /** `df` re-expressed against `to` — same analyzed plan, planned and
    * executed under `to`'s conf. */
  def reroot(df: DataFrame, to: SparkSession): DataFrame =
    classic.Dataset.ofRows(to.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.analyzed)

  /** [[twinSession]] + [[reroot]] in one call. */
  def withOverrides(df: DataFrame,
                    overrides: Map[String, String]): DataFrame =
    reroot(df, twinSession(df.sparkSession, overrides))
}
