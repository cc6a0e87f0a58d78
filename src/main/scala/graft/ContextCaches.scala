package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}

/** Shared eviction hook for context-keyed caches (dedup corpus
  * broadcasts, trained IVF centroids, ...): registers at most one
  * listener per (context, cache-name) and runs the supplied eviction
  * when the context stops, so no cache entry — or the stopped
  * SparkContext it is keyed by — outlives the application.
  */
object ContextCaches {
  private val hooked = scala.collection.concurrent.TrieMap
    .empty[(SparkContext, String), Unit]

  def evictOnStop(sc: SparkContext, cacheName: String)(evict: () => Unit): Unit =
    hooked.getOrElseUpdate((sc, cacheName), {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          evict()
          hooked.remove((sc, cacheName))
        }
      })
    })

  private val pinned = scala.collection.concurrent.TrieMap
    .empty[SparkContext,
      Map[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        org.apache.spark.sql.DataFrame]]

  /** `df.persist()` with a release path: the pin is registered against
    * the owning SparkContext and unpersisted when the context stops, so
    * no query-internal cache entry outlives the application. Within a
    * session, Spark's CacheManager dedups identical plans, so repeated
    * invocations of the same query on the same dir share one entry; the
    * driver-side registry mirrors that by keying on the canonicalized
    * analyzed plan — re-pinning a semantically identical frame replaces
    * the entry instead of appending, so the registry only grows with
    * genuinely distinct plans (new data dirs, novel ad-hoc datasets),
    * each of which the caller wanted resident.
    */
  def pin(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sc = df.sparkSession.sparkContext
    val key = df.queryExecution.analyzed.canonicalized
    // Register-then-persist UNDER the pool lock: persisting first left
    // a window where a concurrent pinBounded LRU eviction of the same
    // canonicalized plan saw no library registration (heldElsewhere
    // misses) and unpersisted the just-created storage — the exact
    // contract violation the cross-registry check exists to prevent.
    poolsLock.synchronized {
      pinned.updateWith(sc)(p => Some(p.getOrElse(Map.empty) + (key -> df)))
      df.persist()
    }
    evictOnStop(sc, "pinned-plans")(() =>
      pinned.remove(sc).getOrElse(Map.empty).values
        .foreach(quietUnpersist))
    df
  }

  /** Best-effort unpersist for stop-time eviction: onApplicationEnd
    * fires after the context has stopped, where unpersist throws
    * IllegalStateException — but the executors' storage died with the
    * context; the hook's real job is clearing the DRIVER-side
    * registries, which must proceed regardless.
    */
  private def quietUnpersist(df: org.apache.spark.sql.DataFrame): Unit =
    try df.unpersist()
    catch { case scala.util.control.NonFatal(_) => }

  // Insertion-ordered (LinkedHashMap) per-(context, pool) registries for
  // pinBounded — recency is maintained by remove+re-insert on touch.
  private val pools = scala.collection.concurrent.TrieMap
    .empty[(SparkContext, String),
      scala.collection.mutable.LinkedHashMap[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        org.apache.spark.sql.DataFrame]]

  /** One lock for ALL pool mutation (pin, LRU evict, stop-evict): pins
    * are rare driver-side events, so contention is irrelevant, and a
    * single lock lets eviction consult OTHER pools ([[heldElsewhere]])
    * without nested per-pool locks — two pools evicting concurrently
    * while each checks the other would order per-pool locks
    * inconsistently and deadlock.
    */
  private val poolsLock = new Object

  /** Is `key`'s plan also pinned by ANOTHER registry on this context —
    * the unbounded [[pin]] map or a different pool? Spark's CacheManager
    * keys storage by canonicalized plan, so the SAME entry backs every
    * registry holding the plan; an LRU eviction that unpersisted it
    * would silently drop a library pin's residency (its contract) and
    * leave the other registry's map entry pointing at evicted storage.
    * Caller holds [[poolsLock]].
    */
  private def heldElsewhere(sc: SparkContext, pool: String,
      key: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    pinned.get(sc).exists(_.contains(key)) ||
      pools.exists { case ((c, p), m) =>
        (c eq sc) && p != pool && m.contains(key)
      }

  // Memoized plan-choice decisions (e.g. the adaptive-cumsum grid size),
  // keyed by (context, canonicalized plan, tag). Bounded: one Long per
  // distinct decided plan, cleared on context stop.
  private val decisions = scala.collection.concurrent.TrieMap
    .empty[(SparkContext,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String), Long]

  /** Memoize a Spark-job-backed plan decision per canonicalized plan.
    *
    * The adaptive cumsum's `maxCellsPerKey` probe is a blocking
    * collect(): run un-memoized from [[graft.plans.GridOrderStatsRule]]
    * it executed a nested cluster job on the OPTIMIZER thread on every
    * optimization pass that saw a percentile aggregate — merely
    * explaining a query triggered jobs, and a hang in the probe
    * surfaced as a planning failure (the round-15 ADVICE medium item).
    * Memoized, the job runs once per distinct (plan, tag) per context;
    * recompiles and re-executions of the same query read the map.
    * Staleness has the same bound as [[pin]] itself: within a session
    * the decided grid is immutable because the pinned collapse it
    * measures is; a new data dir is a new canonicalized plan.
    */
  def decideOnce(df: org.apache.spark.sql.DataFrame, tag: String)
      (compute: => Long): Long = {
    val sc = df.sparkSession.sparkContext
    val key = (sc, df.queryExecution.analyzed.canonicalized, tag)
    decisions.get(key) match {
      case Some(v) => v
      case None =>
        val v = compute
        decisions.putIfAbsent(key, v)
        evictOnStop(sc, "plan-decisions")(() =>
          decisions.keys.filter(_._1 eq sc).foreach(decisions.remove))
        v
    }
  }

  /** [[pin]] with a per-pool LRU bound: once a pool holds `cap` distinct
    * plans, pinning another unpersists the least-recently-pinned entry.
    *
    * For pins an optimizer rule makes (GridOrderStatsRule's shared
    * projections, the value-grid collapses): the rule fires once per
    * DISTINCT query compilation, and an unbounded registry would grow a
    * data-sized cache entry per distinct rewritten query for the context
    * lifetime — a long-lived session running many ad-hoc medians would
    * exhaust storage. Other library operators keep using [[pin]] (their
    * residency IS the contract — a vector store must not silently evict
    * its inverted lists); pool pins are best-effort residency, and
    * eviction is always SAFE: an unpersisted
    * InMemoryRelation recomputes from its cached child plan, it does not
    * fail. Touching an already-pooled plan refreshes both its recency
    * and (via CacheManager's own dedup) its single storage entry.
    * An evicted plan that is ALSO held by [[pin]] or another pool only
    * drops this pool's map entry — storage stays resident for the other
    * registry ([[heldElsewhere]]), preserving the library-pin contract.
    */
  def pinBounded(df: org.apache.spark.sql.DataFrame, pool: String,
      cap: Int): org.apache.spark.sql.DataFrame = {
    val sc = df.sparkSession.sparkContext
    val key = df.queryExecution.analyzed.canonicalized
    // Everything under the ONE pool lock — including the stop-eviction
    // callback below — so the callback cannot race the lookup and
    // remove the pool between a getOrElseUpdate and the mutation (a pin
    // landing in an orphaned map would persist() storage no hook ever
    // releases).
    poolsLock.synchronized {
      val m = pools.getOrElseUpdate((sc, pool),
        scala.collection.mutable.LinkedHashMap.empty)
      df.persist()
      m.remove(key) // re-insert below → most-recent position
      m += (key -> df)
      while (m.size > cap) {
        val (k, oldest) = m.head
        m.remove(k)
        if (!heldElsewhere(sc, pool, k)) oldest.unpersist()
      }
    }
    evictOnStop(sc, s"pinned-pool-$pool")(() =>
      poolsLock.synchronized {
        pools.remove((sc, pool)).foreach { p =>
          p.foreach { case (k, v) =>
            if (!heldElsewhere(sc, pool, k)) quietUnpersist(v)
          }
          p.clear()
        }
      })
    df
  }
}
