package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.Catalog

/** Driver contract (SURVEY.md §7 + TESTDATA.md): the query surface by
  * name, derived from [[Catalog]], plus the flagship `entry` and the
  * session caches the catalog's model- and pipeline-backed queries
  * share.
  */
object SparkEntry {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] =
    Catalog.all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  // Shared pipeline run — the pipeline_* queries expose the clip-
  // pipeline stages; one run feeds all of them. Keyed by the run's
  // ACTUAL inputs (corpus size, layout) AND the session OBJECT in a
  // weak-key map: a cached Result holds Datasets bound to one
  // SparkContext, and a second session in the same JVM (test suites)
  // must never receive frames from a possibly-stopped first session.
  // (r3 keyed on System.identityHashCode(session) — identity hashes can
  // be REUSED after the old session is GC'd, so a new session could
  // collide onto frames of a stopped SparkContext, and dead-session
  // entries leaked for the JVM lifetime. Weak keys make dead sessions
  // collectable; the isStopped guard evicts a stopped-but-reachable
  // session's entries before they can be returned.)
  private val pipeCache = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.HashMap[(Long, Int), Pipeline.Result]]()
  private def sessionSlot[K, V](cache: java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.HashMap[K, V]], s: SparkSession):
      scala.collection.mutable.HashMap[K, V] = {
    // Sweep EVERY stopped session's entry, not just `s`'s: the weak keys
    // alone never collect, because a cached value holds Datasets whose
    // QueryExecution strongly references its SparkSession — the value
    // pins the key for the JVM lifetime. The map is tiny (one entry per
    // session ever seen), so a full sweep per access is free, and it is
    // the only reclamation path for sessions that are stopped and never
    // looked up again.
    cache.entrySet().removeIf(e =>
      e.getKey == null || e.getKey.sparkContext.isStopped)
    Option(cache.get(s)).getOrElse {
      val m = scala.collection.mutable.HashMap.empty[K, V]
      cache.put(s, m); m
    }
  }
  private[graft] def pipe(s: SparkSession, n: Long = 2000L,
      partitions: Int = 8): Pipeline.Result = synchronized {
    sessionSlot(pipeCache, s).getOrElseUpdate((n, partitions), {
      val clips = Pipeline.clips(s, n, partitions = partitions)
      Pipeline.run(s, clips)
    })
  }

  // Session-keyed broadcast cache: a model-backed query (BPE) used to
  // create a FRESH Broadcast of its model on every invocation and never
  // destroy it — a long session accumulated undestroyed broadcast
  // blocks. One broadcast per (session, key); the detector bundle and
  // its char-LM are Stage1.modelsBc, one per SparkContext. Same weak-key
  // + isStopped-eviction discipline as pipeCache.
  private val bcCache = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.HashMap[String, Any]]()
  private[graft] def cachedBc[T](s: SparkSession, key: String)(mk: => T): T =
    synchronized {
      sessionSlot(bcCache, s).getOrElseUpdate(key, mk).asInstanceOf[T]
    }

  /** Flagship: end-to-end keep/drop decisions on a synthesized clip
    * corpus (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    pipe(spark).decisions.select($"clip_id", $"source", $"lg",
      $"lg_decision", $"keep", $"drop_reason")
  }
}
