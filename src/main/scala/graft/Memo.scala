package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame

/** Session-scoped train-once-serve-many registry for derived MODEL tables
  * — IVF cell centroids, PQ codebooks, dedup cluster labels — the
  * STORED-INDEX tables they imply (the IVF inverted list, the PQ code
  * table, the MinHash candidate and verified pair tables) and the shared
  * near-dup SIGNATURE stages (tokens, MinHash signatures, term
  * frequencies): deterministic, expensive-to-derive frames that a
  * production deployment builds once and serves to every query, exactly
  * like a feature/model store plus its index files. Spark's CacheManager
  * shares plan-identical `cache()` data, but not the build: the trained
  * tables are `localCheckpoint`s (a UNIQUE plan per call, so plan-keying
  * can never hit), and an eager `cache().count()` stage runs its count
  * job on every call even when the data is cached.
  * Without this memo every query that composes a trained table retrains
  * it from scratch (measured at sf0.1: similarity_ivfpq re-paid both the
  * IVF and PQ Lloyd's loops that similarity_ivf / embedding_pq had just
  * run), and every near-dup query re-counted the signature stages.
  *
  * Keys carry the SparkContext applicationId, so a stopped-and-replaced
  * context (each suite / tool run) can never serve a frame whose backing
  * blocks died with the old context.
  *
  * [[clear]] is the honesty hook: the benchmark (perfbench) calls it
  * alongside `spark.catalog.clearCache()` between timed passes so each
  * pass re-does the full training work. Within-pass sharing IS the
  * measured shape — train once, serve many — but cross-pass reuse would
  * under-report.
  *
  * The signature stages are held by `cache()`, so a
  * `spark.catalog.clearCache()` must always be followed by [[clear]]:
  * clearing the cache alone leaves this memo serving frames whose data
  * is gone, and every later read recomputes the whole stage.
  */
object Memo {
  private val m = new ConcurrentHashMap[(String, String), DataFrame]()

  /** Memoized build. Deliberately NOT computeIfAbsent: a builder that
    * itself consults the memo (composed trainers) would recursively update
    * the map mid-compute, which ConcurrentHashMap forbids. The
    * check-build-putIfAbsent race can at worst double-build a
    * deterministic frame; the first registration wins for all readers. */
  def cached(appId: String, key: String)(build: => DataFrame): DataFrame = {
    val k = (appId, key)
    val hit = m.get(k)
    if (hit != null) hit
    else {
      val v = build
      val prev = m.putIfAbsent(k, v)
      if (prev != null) prev else v
    }
  }

  private val side = new ConcurrentHashMap[(String, String), AnyRef]()

  /** Memoized NON-DataFrame build — same registry semantics and the same
    * [[clear]] honesty hook as [[cached]], for values like a staged
    * snapshot's (path, affected-months) handle (round 15: the
    * merge-family queries share ONE staged base per app instead of each
    * re-staging the identical fixture; perfbench's between-pass clear still
    * re-pays the staging once per pass). */
  def cachedRef[T <: AnyRef](appId: String, key: String)(build: => T): T = {
    val k = (appId, key)
    val hit = side.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v = build
      val prev = side.putIfAbsent(k, v)
      if (prev != null) prev.asInstanceOf[T] else v
    }
  }

  def clear(): Unit = { m.clear(); side.clear(); Sizing.clear() }
}
