package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Session-owned lifecycle for every operator-internal `persist()`.
  *
  * Several operators cache an intermediate that feeds two branches of
  * the returned (lazy) plan — the cache is what keeps the expensive
  * kernel (shingling, minhashing, the neighbor graph) from being
  * recomputed once per branch. The operator cannot unpersist it before
  * returning (the result has not run yet), so it persists through
  * [[CacheScope.persist]], which registers the frame with its
  * SparkSession. Whoever owns the session materializes the result, then
  * reclaims every such cache at once:
  *
  * {{{
  * val pairs = Dedup.jaccardPairs(docs, "text", "doc_id")
  * pairs.write.parquet(out)          // action — the caches earn their keep here
  * CacheScope.releaseSession(spark)  // zero residual cached RDDs
  * }}}
  *
  * After the release the returned DataFrame is still valid — a further
  * action simply recomputes from source. CacheScopeSpec asserts the
  * zero-residual contract, and StyleGateSpec keeps `persist` out of
  * every other file under src/main, so nothing is ever untracked.
  */
object CacheScope {

  /** Registry lifetime: entries live until [[releaseSession]] empties
    * them or the underlying SparkContext ends (a listener registered at
    * first use removes the entry then). The map is weak-KEYED, but that
    * eviction alone can never fire while an entry holds Datasets — each
    * tracked Dataset strongly references its SparkSession, so the value
    * reaches the key; the listener is what actually breaks the cycle
    * for a process that stops sessions without calling releaseSession.
    */
  private val perSession =
    new java.util.WeakHashMap[SparkSession, ArrayBuffer[Dataset[_]]]()

  /** `ds.persist()` at the default level (MEMORY_AND_DISK), registered
    * with `ds`'s session so [[releaseSession]] reclaims it.
    */
  def persist[T <: Dataset[_]](ds: T): T = {
    ds.persist()
    val s = ds.sparkSession
    perSession.synchronized {
      var owned = perSession.get(s)
      if (owned == null) {
        owned = ArrayBuffer.empty[Dataset[_]]
        perSession.put(s, owned)
        // Drop every entry of this context when it ends: without this, a
        // long-lived process that stops and drops sessions would pin each
        // stopped session (and all its tracked Datasets) forever — the
        // entry's Dataset refs reach the session, defeating the weak key.
        val ctx = s.sparkContext
        ctx.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            perSession.synchronized {
              val it = perSession.entrySet().iterator()
              while (it.hasNext) {
                val en = it.next()
                if (en.getKey != null && (en.getKey.sparkContext eq ctx))
                  it.remove()
              }
            }
        })
      }
      owned += ds
    }
    ds
  }

  /** Unpersist (non-blocking) every cache an operator created through
    * [[persist]] on `s`. Call after the consuming action. Idempotent;
    * results stay valid (a further action recomputes from source).
    */
  def releaseSession(s: SparkSession): Unit = {
    val owned = perSession.synchronized {
      val o = perSession.get(s)
      if (o == null) Nil
      else { val all = o.toList; o.clear(); all }
    }
    owned.foreach(_.unpersist())
  }

  /** Unpersist EVERY persistent RDD of the context — including the
    * blocks `localCheckpoint` pins, which `unpersist()`/`clearCache()`
    * never release (they are freed only when the GC driver-side
    * collects the RDD handle). Iterative operators checkpoint once per
    * round, so a long session running many of them accumulates dead
    * round states in the block manager until storage pressure turns
    * into GC churn and eviction stalls (the shared-board inflation the
    * bench's queries_note documents). UNLIKE [[releaseSession]], this
    * is destructive: a still-held checkpointed DataFrame cannot
    * recompute (its lineage was truncated) — call it only at a point
    * where no prior query's frames will be used again, e.g. between
    * bench reps.
    */
  def releaseCheckpoints(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
}
