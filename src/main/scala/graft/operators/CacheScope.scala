package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.collection.mutable.ArrayBuffer

/** Session-owned lifecycle for every operator-internal `persist()`,
  * every lineage cut of an iterative operator's round state and every
  * scratch directory a query writes.
  *
  * Several operators cache an intermediate that feeds two branches of
  * the returned (lazy) plan — the cache is what keeps the expensive
  * kernel (shingling, minhashing, the neighbor graph) from being
  * recomputed once per branch. The iterative ones (connected-component
  * star rounds, label propagation, PageRank, q48's hops, the beam walk)
  * cut each round's plan so it stays O(1) across rounds instead of
  * nesting every earlier round; the scatter streams write the table
  * the result reads to a scratch dir. The operator cannot free any of
  * these before returning (the result has not run yet), so it goes
  * through [[persist]], [[checkpoint]] or [[scratchDir]], which
  * register it with its SparkSession. Whoever owns the session
  * materializes the result, then reclaims everything at once:
  *
  * {{{
  * val pairs = Dedup.jaccardPairs(docs, "text", "doc_id")
  * pairs.write.parquet(out)          // action — the caches earn their keep here
  * CacheScope.releaseSession(spark)  // zero residual cached RDDs
  * }}}
  *
  * After the release a DataFrame that only persisted stays valid — a
  * further action simply recomputes from source. One that read a
  * materialized checkpoint or a scratch directory does not (its lineage
  * ends at the freed blocks or the deleted files): rebuild it from the
  * operator. CacheScopeSpec asserts the zero-residual contract, and
  * StyleGateSpec keeps `persist`, `localCheckpoint` and
  * `createTempDirectory` out of every other file under src/main, so
  * nothing is ever untracked.
  */
object CacheScope {

  /** Registry lifetime: entries live until [[releaseSession]] empties
    * them or the underlying SparkContext ends (a listener registered at
    * first use removes the entry then). The map is weak-KEYED, but that
    * eviction alone can never fire while an entry holds frames — each
    * tracked Dataset strongly references its SparkSession, so the value
    * reaches the key; the listener is what actually breaks the cycle
    * for a process that stops sessions without calling releaseSession
    * (and deletes their scratch dirs, which outlive the context). Each
    * entry is the action that frees one registered frame or dir.
    */
  private val perSession =
    new java.util.WeakHashMap[SparkSession, ArrayBuffer[() => Unit]]()

  /** `ds.persist()` at the default level (MEMORY_AND_DISK), registered
    * with `ds`'s session so [[releaseSession]] reclaims it.
    */
  def persist[T <: Dataset[_]](ds: T): T = {
    ds.persist()
    register(ds.sparkSession, () => ds.unpersist())
    ds
  }

  /** Lazy `localCheckpoint` of `ds`, registered with its session so
    * [[releaseSession]] frees the checkpoint blocks. The returned frame's
    * plan is a leaf over the checkpoint RDD, so a round loop that cuts
    * every round plans in constant size; the blocks are written by the
    * first action that reads the frame and serve every later read, so
    * a cut frame also stands in for a persisted one.
    */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val cut = ds.localCheckpoint(eager = false)
    val rdds = cut.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    register(cut.sparkSession, () => rdds.foreach(_.unpersist(blocking = false)))
    cut
  }

  /** A fresh `prefix*` dir under `java.io.tmpdir`, registered with `s`
    * so [[releaseSession]] deletes it (after the cache that fronts it).
    */
  def scratchDir(s: SparkSession, prefix: String): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    register(s, new DeleteDir(dir))
    dir
  }

  private final class DeleteDir(dir: java.io.File) extends (() => Unit) {
    def apply(): Unit = org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  private def register(s: SparkSession, release: () => Unit): Unit =
    perSession.synchronized {
      var owned = perSession.get(s)
      if (owned == null) {
        owned = ArrayBuffer.empty[() => Unit]
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
                if (en.getKey != null && (en.getKey.sparkContext eq ctx)) {
                  en.getValue.foreach { case d: DeleteDir => d(); case _ => }
                  it.remove()
                }
              }
            }
        })
      }
      owned += release
    }

  /** Free (non-blocking) every cache, checkpoint and scratch directory
    * registered through [[persist]], [[checkpoint]] or [[scratchDir]] on
    * `s`, newest first. Call after the consuming action. Idempotent.
    */
  def releaseSession(s: SparkSession): Unit = {
    val owned = perSession.synchronized {
      val o = perSession.get(s)
      if (o == null) Nil
      else { val all = o.toList; o.clear(); all }
    }
    owned.reverseIterator.foreach(_.apply())
  }

  /** Unpersist EVERY persistent RDD of the context, tracked or not.
    * Context-wide and destructive: a still-held checkpointed DataFrame of
    * any session cannot recompute afterwards. Every operator cut now
    * goes through [[checkpoint]], which [[releaseSession]] frees, so
    * only the perfbench client still calls this (between operations);
    * a later benchmark change deletes that call and this method.
    */
  def releaseCheckpoints(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
}
