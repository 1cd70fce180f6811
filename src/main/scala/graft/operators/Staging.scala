package graft.operators

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.GraftBridge.sessionUUID
import org.apache.spark.storage.StorageLevel

/** The engine's one session-scoped memo, keyed on (session, stage name,
  * dir): staged frames (sketch/pair/label/token/weight tables), every
  * [[DurableStage.get]] read, and fitted artifacts (lloyd, BPE, ULM) —
  * so every derived query is a read, not a recomputation. Entries of a
  * stopped or collected session are unpersisted on the next access.
  * Stages nest (lpa_labels → undirected_edges → weighted_edges), so a
  * miss builds outside any map operation, under a per-key lock, then
  * publishes: one build per key under concurrent callers. */
object SessionCache {
  private final case class Key(session: String, stage: String, dir: String)
  /** `path`: the durable stage directory the value reads, if any. */
  private final case class Entry(owner: WeakReference[SparkSession],
      value: Any, path: Option[String])

  private val entries = new ConcurrentHashMap[Key, Entry]()
  /** Per-key build locks; the lock object is the owner reference. */
  private val locks = new ConcurrentHashMap[Key, WeakReference[SparkSession]]()

  /** One persisted (MEMORY_AND_DISK) frame per (session, stage, dir). */
  private[graft] def get(s: SparkSession, stage: String, dir: String)(
      build: => DataFrame): DataFrame =
    memo(s, stage, dir)((build.persist(StorageLevel.MEMORY_AND_DISK), None))

  /** One fitted artifact (an in-JVM value) per (session, stage, dir). */
  private[graft] def value[T](s: SparkSession, stage: String, dir: String)(
      build: => T): T =
    memo(s, stage, dir)((build, None))

  private[operators] def memo[T](s: SparkSession, stage: String,
      dir: String)(build: => (T, Option[String])): T = {
    evictDead()
    val k = Key(sessionUUID(s), stage, dir)
    def hit = Option(entries.get(k)).map(_.value.asInstanceOf[T])
    hit.getOrElse {
      val owner = locks.computeIfAbsent(k, _ => new WeakReference(s))
      owner.synchronized(hit.getOrElse {
        val (v, path) = build
        entries.put(k, Entry(owner, v, path))
        v
      })
    }
  }

  /** Unpersist and drop every entry owned by `s`, engine-wide; the next
    * consumer re-stages it. Harnesses call this to bound resident cache
    * mass across 300+ queries in one JVM. */
  def releaseAll(s: SparkSession): Unit = {
    val id = sessionUUID(s)
    drop((k, _) => k.session == id)
  }

  /** Drop every session's entries that read a deleted stage directory. */
  private[operators] def dropPaths(gone: String => Boolean): Unit =
    drop((_, e) => e.path.exists(gone))

  private def dead(owner: WeakReference[SparkSession]): Boolean =
    Option(owner.get()).forall(_.sparkContext.isStopped)

  private def evictDead(): Unit = {
    drop((_, e) => dead(e.owner))
    locks.values.removeIf(dead(_))
  }

  private def drop(p: (Key, Entry) => Boolean): Unit =
    entries.forEach { (k, e) =>
      if (p(k, e) && entries.remove(k, e)) e.value match {
        case df: Dataset[_] =>
          try df.unpersist() catch { case _: Throwable => () }
        case _ => ()
      }
    }
}
