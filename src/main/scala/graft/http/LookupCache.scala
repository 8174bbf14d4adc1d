package graft.http

/** Per-executor lookup cache: LRU with max-rows + expire-after-write /
  * expire-after-access + cache-missing-key, mirroring Flink's PARTIAL lookup
  * cache options (reference docs `table/http.md` "Lookup Source Connector
  * Options": `lookup.cache`, `lookup.partial-cache.*`).
  *
  * Flink caches per parallel task; on Spark we share one cache per executor
  * JVM (all cores), keyed by the rendered request — strictly fewer external
  * calls at the same memory budget, which is the property that matters when
  * 1000 executors hammer one REST endpoint.
  *
  * Synchronized LinkedHashMap in access-order: O(1) get/put; eviction by
  * size and lazily by TTL on read. At the configured scale (`max-rows`,
  * default 1000 in Flink) contention is negligible versus network latency.
  */
final class LookupCache[V](
    maxRows: Long,
    expireAfterWriteMs: Option[Long],
    expireAfterAccessMs: Option[Long],
    clock: () => Long = () => System.currentTimeMillis()) {

  private final case class Entry(value: V, writeAt: Long, var accessAt: Long)

  private val map =
    new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Entry]): Boolean = size() > maxRows
    }

  def get(key: String): Option[V] = map.synchronized {
    val e = map.get(key)
    if (e == null) None
    else {
      val now = clock()
      val expired =
        expireAfterWriteMs.exists(ttl => now - e.writeAt >= ttl) ||
          expireAfterAccessMs.exists(ttl => now - e.accessAt >= ttl)
      if (expired) { map.remove(key); None }
      else { e.accessAt = now; Some(e.value) }
    }
  }

  def put(key: String, value: V): Unit = map.synchronized {
    val now = clock()
    map.put(key, Entry(value, now, now))
  }

  def size: Int = map.synchronized(map.size())
}

object LookupCache {

  /** How many configs keep their cache. One `graft.Bench` run builds 15
    * distinct `PARTIAL` configs, all in the `h_*` lookup gates (counted at
    * each new registry entry over a `graft.Verify` run of those gates), so
    * no gate loses its cache between round-robin iterations. A process
    * that keeps building new configs (a fresh option per call) holds at
    * most this many caches.
    */
  private[http] val MaxConfigs = 64

  // access-ordered: past MaxConfigs the least recently opened config's
  // cache is dropped; a task keeps the instance it opened
  private val instances =
    new java.util.LinkedHashMap[String, LookupCache[HttpOutcome]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, LookupCache[HttpOutcome]]): Boolean =
        this.size() > MaxConfigs
    }

  /** A parsed `PARTIAL` cache; `id` (the whole lookup configuration) names
    * its JVM-wide instance.
    */
  final case class Config(
      id: String,
      maxRows: Long,
      expireAfterWriteMs: Option[Long],
      expireAfterAccessMs: Option[Long])

  /** The `lookup.cache` options, parsed where the query is defined: `None`
    * for `NONE`, an unknown kind fails.
    */
  def config(o: HttpOptions): Option[Config] =
    o.str(HttpOptions.LookupCacheKind, "NONE").toUpperCase match {
      case "NONE" => None
      case "PARTIAL" =>
        Some(Config(
          o.options.toSeq.sorted.mkString("|"),
          o.long(HttpOptions.CacheMaxRows, 1000L),
          o.strOpt(HttpOptions.CacheExpireAfterWrite).map(HttpOptions.parseDurationMs),
          o.strOpt(HttpOptions.CacheExpireAfterAccess).map(HttpOptions.parseDurationMs)))
      case other =>
        throw new HttpConfigException(s"Unknown lookup.cache kind '$other'")
    }

  /** JVM-wide (per-executor) cache instance for a config. */
  def shared(c: Config): LookupCache[HttpOutcome] = instances.synchronized {
    instances.computeIfAbsent(
      c.id,
      _ => new LookupCache[HttpOutcome](c.maxRows, c.expireAfterWriteMs, c.expireAfterAccessMs))
  }

  /** Test hook. */
  private[graft] def clearAll(): Unit = instances.synchronized(instances.clear())
}
