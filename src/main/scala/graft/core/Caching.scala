package graft.core

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one caching primitive: operator-internal shared subtrees are
  * cached for the lifetime of a SCOPE.
  *
  * [[scoped]] runs a body; when the body returns or throws, every frame
  * [[cached]] inside it (and not already cached before) is unpersisted.
  * [[cached]] registers a frame with the innermost scope open on the
  * calling thread. Outside any scope it returns the frame unchanged, so no
  * cache can outlive its owner.
  *
  * Who opens the scope: whoever ends the work on the frame. An operator
  * that runs its frame's consumers itself (a training loop, a multi-pass
  * DQ suite, a write) scopes its own body. An operator that returns a lazy
  * frame over a cached subtree does not: the caller that runs the action
  * (a bench rep, a Verify dump, a test) holds the scope, and the cache
  * lives exactly as long as that action.
  *
  * Idempotence: `Dataset.storageLevel` consults the session's CacheManager
  * by canonical plan, so a frame already cached (by an outer scope or by
  * anyone else) is reused as is, and stays the responsibility of whoever
  * cached it first. Scopes are tracked in a plain (non-inheritable)
  * ThreadLocal: a stream's `foreachBatch` thread opens its own.
  */
object Caching {

  private val scopes = new ThreadLocal[List[collection.mutable.ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[collection.mutable.ArrayBuffer[DataFrame]] = Nil
  }
  private val held = new AtomicInteger(0)

  /** Run `body`; on exit (normal or thrown) unpersist every frame
    * [[cached]] inside it that was not already cached. Non-blocking:
    * eviction proceeds in the background while the caller returns.
    */
  def scoped[T](body: => T): T = {
    val mine = collection.mutable.ArrayBuffer.empty[DataFrame]
    scopes.set(mine :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      mine.foreach(_.unpersist(blocking = false))
      held.addAndGet(-mine.size)
    }
  }

  /** Cache `df` for the innermost open scope on this thread. A frame whose
    * canonical plan is already cached is returned as is; outside any scope
    * `df` is returned uncached.
    */
  def cached(df: DataFrame): DataFrame = {
    scopes.get.headOption.foreach { mine =>
      synchronized {
        if (df.storageLevel == StorageLevel.NONE) { df.cache(); mine += df; held.incrementAndGet() }
      }
    }
    df
  }

  /** Number of frames held by open scopes, across all threads. */
  def registrySize: Int = held.get
}
