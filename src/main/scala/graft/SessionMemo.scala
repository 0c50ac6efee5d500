package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped bookkeeping for operator intermediates.
  *
  * [[cache]] is for a frame that ONE call reads twice — both sides of a
  * self-join, or a sampled range layout two jobs must agree on. It keeps
  * nothing across calls: the caller holds the cached frame in a local val
  * and passes it to its second reader. A scalar that one call needs twice
  * is likewise computed once and passed down. Cached frames stay pinned
  * until [[clear]], because an operator returns a lazy plan that still
  * reads them.
  *
  * [[dir]] is the on-disk staging memo: one written directory per
  * (session, tag), reused by repeat calls.
  *
  * Weak-keyed on the live SparkSession — NOT identityHashCode, which can
  * collide across distinct sessions and would then release or serve state
  * bound to the wrong (possibly stopped) SparkContext — so when a session
  * becomes unreachable its entries, and the cached blocks they pin, are
  * GC-reclaimable instead of living for the rest of the JVM.
  */
object SessionMemo {
  private def weakMap[V]() = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, V]())
  private val frames = weakMap[java.util.concurrent.ConcurrentLinkedQueue[DataFrame]]()
  private val dirs = weakMap[java.util.concurrent.ConcurrentHashMap[String, String]]()

  /** `.cache()` `df` for a second read within the calling operator and
    * register it for [[clear]]. When Spark's CacheManager already holds an
    * equal plan (a repeat call over the same input), `df` reads that copy
    * and nothing new is cached or registered. */
  def cache(spark: SparkSession)(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      frames.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]())
        .add(df.cache()): Unit
    }
    df
  }

  /** One staged directory (persisted index / written artifact) per
    * (session, tag); the dirs themselves are reaped by Tables.scratchDir's
    * exit hook (a lost putIfAbsent race leaves only an extra dir for the
    * hook to reap). NOT computeIfAbsent: a build may itself stage another
    * directory, and a nested computeIfAbsent on the same ConcurrentHashMap
    * throws "Recursive update" or deadlocks on a resize; get → build
    * outside the map → putIfAbsent is reentrant. */
  def dir(spark: SparkSession, tag: String)(build: => String): String = {
    val m = dirs.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap[String, String]())
    val existing = m.get(tag)
    if (existing != null) existing
    else {
      val built = build
      val prev = m.putIfAbsent(tag, built)
      if (prev != null) prev else built
    }
  }

  /** Unpersist every frame this session cached through [[cache]] and drop
    * its directory registrations. Bench's cold mode and perfbench call this
    * before each key so every measurement pays the operator's true
    * first-touch cost. */
  def clear(spark: SparkSession): Unit = {
    val q = frames.remove(spark)
    if (q != null)
      q.forEach(df => try df.unpersist() catch { case _: Throwable => () })
    dirs.remove(spark): Unit
  }
}
