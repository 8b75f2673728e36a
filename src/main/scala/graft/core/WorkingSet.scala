package graft.core

import org.apache.spark.sql.DataFrame

/** The one way an operator keeps an intermediate frame in executor
  * memory: a working set owned by the innermost [[scope]] open on the
  * calling thread. [[apply]] caches and eagerly materializes the frame
  * through the step [[PlanCache]] uses, and hands it to the open scope
  * only if this call created the CacheManager entry. Entries are keyed
  * by plan, so a plan a PlanCache memo or an outer scope already holds
  * is not owned here, and closing this scope never un-caches it.
  *
  * An operator opens its own scope only when its result no longer
  * reads the set (an eagerly checkpointed loop result, or a write it
  * performs itself); every other set belongs to the caller's scope,
  * so a returned lazy plan reads cached blocks until the caller has
  * drained it. Outside any scope a working set is a plain session
  * cache, released by `spark.catalog.clearCache()`. */
object WorkingSet {
  private type Owned = java.util.ArrayList[DataFrame]
  private val open = ThreadLocal.withInitial[List[Owned]](() => Nil)

  /** `df`, cached and already materialized. */
  def apply(df: DataFrame): DataFrame =
    PlanCache.materialized(df, created => open.get.headOption.foreach(_.add(created)))

  /** Run `body`, then unpersist every working set it created outside
    * a nested scope — also when `body` throws. */
  def scope[T](body: => T): T = {
    val owned = new Owned
    open.set(owned :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      owned.forEach(_.unpersist(false))
    }
  }
}
