package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one cross-query cache: graph projections, traversal edge tables
  * and kernel inputs that later queries of the SAME session reuse, keyed
  * by (owning session, caller key). Canonical plans ([[ofPlan]]) compare
  * equal across sessions, so a plan key alone would hand a stopped
  * session's frame to the next session.
  *
  * One LRU order, one byte [[Budget]]: kernel edges weigh their bytes;
  * an entry whose frames the registry persisted weighs 1/8 of the budget
  * (at most 8 persisted); every entry weighs at least 1/64 (at most 64
  * entries); an entry over the budget is returned uncached. Frames are
  * never weighed by Spark's size estimate, whose unknown-size fallback
  * is `Long.MaxValue`. Eviction unpersists only frames the registry
  * persisted; a localCheckpointed frame just loses its reference
  * (ContextCleaner frees its blocks once unreachable). Entries of a
  * stopped SparkContext drop on the next access. One build per key:
  * callers of a key wait on its slot, never on a registry-wide lock, so
  * builds may nest. Cached values are shared: never mutate them. */
private[graft] object SessionCache {

  /** Per-session counters, for tests to read. */
  final case class Stats(entries: Int, bytes: Long, hits: Long,
      misses: Long, evictions: Long)

  /** 1/16 of the driver's max heap, capped at 128 MB: the dense form of
    * a maximal local-kernel edge frame (4M edges, 8 B an edge plus 8 B a
    * vertex) and more. */
  val Budget: Long = math.min(Runtime.getRuntime.maxMemory / 16, 128L << 20)

  private final class Slot {
    @volatile var ready = false
    var value: AnyRef = _
    var builder: Thread = _
    var weight = 0L
    var owned: Seq[DataFrame] = Nil
  }
  private final class Counters { var hits, misses, evictions = 0L }

  // everything below is guarded by `lock`; access order = LRU first
  private val lock = new Object
  private val entries =
    new java.util.LinkedHashMap[(SparkSession, Any), Slot](16, 0.75f, true)
  private val counters = new java.util.HashMap[SparkSession, Counters]()
  private var total = 0L

  /** The cached value of `key` in `spark`, built by `build` on a miss.
    * With `persist`, the registry persists the value's frames (a
    * DataFrame, or both sides of a GraphState) MEMORY_AND_DISK and
    * unpersists them on eviction. */
  def getOrCompute[V <: AnyRef](spark: SparkSession, key: Any,
      persist: Boolean = false)(build: => V): V = {
    val k = (spark, key)
    val slot = lock.synchronized {
      sweep()
      entries.computeIfAbsent(k, _ => new Slot)
    }
    slot.synchronized {
      if (slot.ready) {
        lock.synchronized(count(spark).hits += 1)
        return slot.value.asInstanceOf[V]
      }
      require(slot.builder ne Thread.currentThread,
        s"SessionCache: the build of $key looked up its own key")
      slot.builder = Thread.currentThread
      val v = try build catch {
        case t: Throwable =>
          slot.builder = null
          lock.synchronized(entries.remove(k, slot))
          throw t
      }
      val owned = if (persist) frames(v) else Nil
      owned.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
      slot.value = v
      slot.owned = owned
      slot.ready = true
      val w = math.max(Budget / 64,
        weigh(v) + (if (owned.isEmpty) 0L else Budget / 8))
      val evicted = lock.synchronized {
        count(spark).misses += 1
        if (w > Budget) { entries.remove(k, slot); Seq(slot) }
        else if (entries.get(k) ne slot) Nil // swept while building
        else {
          slot.weight = w
          total += w
          removeWhere { (key, s) => // least recently used first
            val evict = total > Budget && s.ready
            if (evict) count(key._1).evictions += 1
            evict
          }
        }
      }
      unpersist(evicted)
      v
    }
  }

  /** [[getOrCompute]] keyed by `df`'s canonicalized plan under `tag`. */
  def ofPlan[V <: AnyRef](tag: String, df: DataFrame,
      persist: Boolean = false)(build: => V): V =
    getOrCompute(df.sparkSession,
      (tag, df.queryExecution.analyzed.canonicalized), persist)(build)

  def stats(spark: SparkSession): Stats = lock.synchronized {
    sweep()
    val mine = entries.asScala.collect {
      case ((s, _), slot) if (s eq spark) && slot.ready => slot.weight }
    val c = counters.getOrDefault(spark, new Counters)
    Stats(mine.size, mine.sum, c.hits, c.misses, c.evictions)
  }

  /** Drop every entry and counter of `spark`, unpersisting the frames
    * the registry persisted. */
  def clear(spark: SparkSession): Unit = unpersist(lock.synchronized {
    counters.remove(spark)
    removeWhere((k, s) => (k._1 eq spark) && s.ready)
  })

  private def count(spark: SparkSession): Counters =
    counters.computeIfAbsent(spark, _ => new Counters)

  private def frames(v: AnyRef): Seq[DataFrame] = v match {
    case df: Dataset[_] => Seq(df.asInstanceOf[DataFrame])
    case GraphState(vs, es) => Seq(vs, es)
    case _ => Nil
  }

  /** Driver heap bytes a value pins besides plans. */
  private def weigh(v: Any): Long = v match {
    case d: KernelGate.DenseEdges[_] => d.bytes
    case (a, b) => weigh(a) + weigh(b)
    case _ => 0L
  }

  /** Drop entries and counters of stopped contexts, without unpersisting:
    * a stopped context cannot, and its blocks went with it. */
  private def sweep(): Unit = {
    removeWhere((k, _) => k._1.sparkContext.isStopped)
    counters.keySet.removeIf(_.sparkContext.isStopped)
  }

  /** Remove the entries `p` accepts, asked in LRU order, one at a time:
    * `total` already excludes the entries removed before. */
  private def removeWhere(p: ((SparkSession, Any), Slot) => Boolean)
      : Seq[Slot] = {
    val out = Seq.newBuilder[Slot]
    entries.entrySet.removeIf { e =>
      val remove = p(e.getKey, e.getValue)
      if (remove) { total -= e.getValue.weight; out += e.getValue }
      remove
    }
    out.result()
  }

  private def unpersist(slots: Seq[Slot]): Unit =
    slots.flatMap(_.owned).foreach { df =>
      try df.unpersist(blocking = false)
      catch { case NonFatal(_) => () } // its context stopped meanwhile
    }
}
