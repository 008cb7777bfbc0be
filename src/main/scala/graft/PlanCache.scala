package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Memoized persisted DataFrames, keyed by the session REFERENCE (not its
  * identity hash — a GC'd session's hash can collide with a live one's) plus
  * the data dir and a tag. Entries belonging to stopped sessions are evicted
  * on every access, so the cache stays bounded by the number of live
  * sessions; `invalidate()` is the explicit hook for data that changed under
  * a dir. At cluster scale the equivalent of these persisted builds is the
  * IndexStore bucketed table (build once, query many — the cortex design,
  * internal/storage/chunk_writer.go).
  */
object PlanCache {
  /** Cached build + the epoch snapshot it was built against — lookups
    * compare the entry's epoch to the CALLER's snapshot so a chained
    * build never mixes layers from different corpus snapshots (see
    * [[getOrBuildAt]]). */
  private final case class Entry(df: DataFrame, epoch: Long)

  private val cache =
    new ConcurrentHashMap[(SparkSession, String, String), Entry]()

  /** Bumped by every invalidate: a build that STARTED before an
    * invalidation must not install its (possibly pre-change) snapshot
    * into the cache after the sweep — the watch loop's per-batch
    * invalidate would otherwise race an in-flight getOrBuild and pin a
    * stale edge relation indefinitely (TOCTOU). The in-flight caller
    * still gets its own result (bounded staleness for that one query);
    * it just doesn't become the memo. */
  private val epoch = new java.util.concurrent.atomic.AtomicLong()

  /** The epoch to snapshot at the START of a multi-layer build and
    * thread through every chained [[getOrBuildAt]] install. */
  def currentEpoch: Long = epoch.get()

  def getOrBuild(spark: SparkSession, dir: String, tag: String)
      (build: => DataFrame): DataFrame =
    getOrBuildAt(spark, dir, tag, epoch.get())(build)

  /** [[getOrBuild]] whose install AND lookup checks compare against a
    * CALLER-supplied epoch snapshot. A chained build (layer h+1 memoized
    * separately but built from the local DataFrame of layer h) must pass
    * the snapshot taken before layer 1:
    *
    *  - Install side: with a per-call snapshot, an invalidate landing
    *    between layers suppresses layer h's install but NOT layer
    *    h+1's — which was built from the stale hop-h frontier still held
    *    in a local var — and the next query would recombine fresh early
    *    layers with stale cached late ones.
    *  - Lookup side: an entry installed under a NEWER epoch (a concurrent
    *    query re-running the chain post-invalidation) must not be
    *    returned to a caller holding an older snapshot, or the in-flight
    *    chain would join a fresh cached layer against its own stale local
    *    visited set — a mixed state matching no corpus snapshot. Such a
    *    caller rebuilds the layer from its own chain instead (and its
    *    install is then suppressed), preserving bounded-but-CONSISTENT
    *    staleness for the in-flight query.
    *
    * Entries are never newer than the live epoch, so plain [[getOrBuild]]
    * (snapshot = now) always accepts cached entries. */
  def getOrBuildAt(spark: SparkSession, dir: String, tag: String,
      asOfEpoch: Long)(build: => DataFrame): DataFrame = {
    cache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val key = (spark, dir, tag)
    val existing = cache.get(key)
    if (existing != null && existing.epoch <= asOfEpoch) existing.df
    else {
      // NOT computeIfAbsent: a build closure may itself call getOrBuild
      // for a dependency relation (BFS memo -> edge relation), and nested
      // computeIfAbsent on one ConcurrentHashMap throws "Recursive
      // update" depending on bin layout. get + putIfAbsent is reentrant;
      // if two threads race, the loser unpersists its duplicate build.
      val built = build.persist()
      if (epoch.get() != asOfEpoch) { built.unpersist(); built }
      else {
        val entry = Entry(built, asOfEpoch)
        val prev = cache.putIfAbsent(key, entry)
        if (prev != null) { built.unpersist(); prev.df }
        else if (epoch.get() != asOfEpoch) {
          // TOCTOU: an invalidate bumped+swept BETWEEN the check above and
          // the install — our entry landed after the sweep and would be
          // pinned as a stale memo. Conditionally remove exactly our own
          // entry (a fresher thread may already have replaced it) and
          // serve the caller its bounded-stale result uncached.
          cache.remove(key, entry)
          built.unpersist()
          built
        } else built
      }
    }
  }

  /** Side-caches keyed by data dir (e.g. CorpusIO's JSONL copies) register
    * here so every invalidation sweep reaches them too — the hook receives
    * the dir being invalidated, or None for a global sweep. Registration
    * is idempotent per call site only because each caches-owning object
    * registers once from its static init. */
  private val invalidationHooks =
    new java.util.concurrent.CopyOnWriteArrayList[Option[String] => Unit]()

  def onInvalidate(hook: Option[String] => Unit): Unit =
    invalidationHooks.add(hook)

  private def fireHooks(dir: Option[String]): Unit =
    invalidationHooks.forEach { h =>
      try h(dir) catch { case _: Throwable => () }
    }

  /** Remove and unpersist ONE entry, so its next use rebuilds. No-op if
    * absent. */
  def drop(spark: SparkSession, dir: String, tag: String): Unit = {
    val e = cache.remove((spark, dir, tag))
    if (e != null) { try e.df.unpersist() catch { case _: Throwable => () } }
  }

  /** Unpersist and drop every entry. Global: only for dev tools
    * (ScaleProbe) and teardown — a data change under ONE dir should use
    * the dir-scoped overload so live persisted relations of other dirs
    * and sessions sharing the JVM stay cached.
    */
  def invalidate(): Unit = {
    epoch.incrementAndGet()
    cache.values.forEach { e =>
      try e.df.unpersist() catch { case _: Throwable => () }
    }
    cache.clear()
    fireHooks(None)
  }

  /** Unpersist and drop only the entries built over `dir` — the hook a
    * watch-loop deployment calls when that corpus dir's data changed
    * (see streaming.WatchLoop). NOTE: this releases PERSISTED relations
    * only; derived bucketed TABLES need
    * sources.IndexStore.invalidateDerived(dir) alongside. */
  def invalidate(dir: String): Unit = {
    epoch.incrementAndGet()
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._2 == dir) {
        try e.getValue.df.unpersist() catch { case _: Throwable => () }
        it.remove()
      }
    }
    fireHooks(Some(dir))
  }
}
