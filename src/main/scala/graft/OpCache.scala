package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** The one owner of operator-internal state that outlives a call: a
  * relation persisted because several branches of one query DAG read
  * it (the posting-table / band-layout idea at query scope), or a
  * driver-side model such as the trained BPE merge list. Operator code
  * never calls `persist` itself outside a scoped persist/unpersist in
  * one method (`PersistLintSpec` enforces this).
  *
  * Each named slot holds ONE live value. A slot is bound to a key and
  * a session; a call with an equal key on the same session returns the
  * registered value without building or persisting again, and a call
  * with any other key (or session) unpersists the previous relation
  * first, then builds. So a long-lived session's cached storage is
  * bounded by the slot count, not by how many corpora, parameters or
  * micro-batches it has visited.
  *
  * Key contract: the key is EVERYTHING the value depends on, compared
  * with `==`. Either the data dir plus every scalar parameter the
  * build reads (`(dir, dfCap)`, hybrid's query list, the BPE corpus
  * fingerprint), or [[plan]] of each input DataFrame the build is
  * handed (plus the dir when the input is a fact table, whose
  * bucketed form reads the same catalog table for every dir). A
  * parameter left out of the key would serve a stale relation.
  *
  * Builds run under the slot's own monitor, never under the map's
  * lock, so one slot's build may call another slot (verifiedPairs
  * builds over shingleDocs) and two threads asking for one slot build
  * it once. Nested slots must nest in one order (no cycles).
  *
  * This does NOT memoize results: a cached slot holds a lazy plan
  * whose blocks Spark fills on first execution, exactly as a direct
  * `persist` would. A caller may drop those blocks early with
  * `unpersist()` (the minhash index build does, after its one-pass
  * write), and an external `clearCache()` drops them too; the next
  * same-key call re-persists the registered relation.
  */
private[graft] object OpCache {
  private final class Slot {
    var key: Any = null
    var session: SparkSession = null
    var value: AnyRef = null
  }
  private val slots = new java.util.concurrent.ConcurrentHashMap[String, Slot]()

  /** The key form of an input relation: its canonicalized analyzed
    * plan (the [[QueryCache]] key), equal for two frames that compute
    * the same rows however they were built.
    */
  def plan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed.canonicalized

  /** The slot's persisted relation for `key`, building it and
    * persisting MEMORY_AND_DISK on first use or on a key/session
    * change.
    */
  def cached(slot: String, spark: SparkSession, key: Any)
            (build: => DataFrame): DataFrame =
    bind[DataFrame](slot, spark, key)(build.persist(StorageLevel.MEMORY_AND_DISK)) { df =>
      if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }

  /** The slot's driver-side value for `key`, built on first use or on
    * a key/session change. Any relation the value refers to lives in
    * its own [[cached]] slot.
    */
  def memo[V <: AnyRef](slot: String, spark: SparkSession, key: Any)(build: => V): V =
    bind[V](slot, spark, key)(build)(identity)

  private def bind[V <: AnyRef](name: String, spark: SparkSession, key: Any)
                               (build: => V)(hit: V => V): V = {
    val s = slots.computeIfAbsent(name, _ => new Slot)
    s.synchronized {
      if (s.value != null && (s.session eq spark) && s.key == key)
        hit(s.value.asInstanceOf[V])
      else {
        // release BEFORE building: a rebuilt relation may share the
        // old one's plan, and unpersisting after would drop its blocks
        release(s.value)
        s.value = null
        val v = build
        s.key = key; s.session = spark; s.value = v
        v
      }
    }
  }

  private def release(v: AnyRef): Unit = v match {
    case df: Dataset[_] =>
      try df.unpersist() catch { case _: Exception => () } // prior session may be stopped
    case _ => ()
  }

  /** Test hook: drop every slot, unpersisting its relation. */
  private[graft] def clear(): Unit =
    slots.values.forEach { s =>
      s.synchronized { release(s.value); s.value = null; s.key = null; s.session = null }
    }

  /** Test hook: the value slot `name` currently holds. */
  private[graft] def held(name: String): Option[AnyRef] =
    Option(slots.get(name)).flatMap(s => s.synchronized(Option(s.value)))
}
