package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Pin lifetimes for the iterative operators.
  *
  * A loop pins each round's frame with a `localCheckpoint` so the iterated
  * plan stays constant-size. `Dataset.unpersist` is a NO-OP on such frames
  * (a checkpointed Dataset never registers in the CacheManager), so an
  * unreleased pin stays resident until the ContextCleaner happens to GC
  * its RDD: a 50-round job would hold up to 50 corpus-sized block sets.
  * And a localCheckpoint has no lineage: a released block cannot be
  * recomputed, so a release that comes too early fails a later read.
  *
  * [[scope]] owns every pin an operator makes and alone decides when each
  * one dies. The rule it enforces:
  *  - a pin is released only when no live frame reads it. Within the body
  *    the live frames are the ones the last [[Scope.retain]] named; at exit
  *    they are the LogicalRDD leaves of a returned DataFrame, and any
  *    other result (a `Seq`, an `Array`, a local frame) has none;
  *  - a pin is never released before every live pin created after it has
  *    materialized (`isCheckpointed`): a lazy live pin may still read it
  *    through its lineage, so the scope counts such a pin first;
  *  - if the body throws, every pin is released.
  * Pins are matched by RDD identity, so a frame that joins several pins
  * keeps all of them. */
object Pins {

  /** Live censuses per (owning session, scope tag) — see [[scopedPersist]]. */
  private val censuses = scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]

  /** Scoped-lifetime persist for the shared CENSUSES behind the scoring
    * operators (knModel's bigram census, the trigram census, DSIR's
    * (id, bucket) counts): persist `df` MEMORY_AND_DISK and register it
    * under `tag` for `df`'s session; the PREVIOUS census that session
    * registered under the same tag is unpersisted. A long-lived session
    * calling the same entry point repeatedly thus holds AT MOST ONE cached
    * census per scope — the bound the lazy `.persist` alone can't give
    * (its blocks linger until the context cleaner happens to GC the
    * dropped result).
    *
    * Entries are per session because sessions run concurrently (Verify's
    * `newSession()` workers): one session's call must not release a frame
    * another session is still reading. And Spark's cache is keyed by plan
    * and shared by every session, so unpersisting a frame drops the entry
    * of every frame whose plan has the same result — the same corpus
    * scored twice, by one session or by two. A superseded frame is
    * therefore released only when no live entry's plan `sameResult`s it.
    * An entry lives while its census is cached, and Spark's cache keeps
    * the owning session reachable for that long anyway, so the map holds
    * its sessions strongly: a finished session keeps its last census per
    * tag until the application ends.
    *
    * Unlike a [[scope]]'s pins, a persist HAS lineage — a
    * superseded census still referenced by an old returned frame
    * recomputes on its next use. A release while a query is still reading
    * the frame races that read (blocks vanish mid-job), which is why a
    * session never releases another session's frame. */
  def scopedPersist(tag: String, df: DataFrame): DataFrame = censuses.synchronized {
    val pinned =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    censuses.put((df.sparkSession, tag), pinned).foreach { prev =>
      val plan = prev.queryExecution.analyzed
      if (!censuses.values.exists(_.queryExecution.analyzed.sameResult(plan)))
        prev.unpersist(blocking = false): Unit
    }
    pinned
  }

  /** The census `spark` currently has registered under `tag` (spec
    * introspection). */
  private[graft] def scopedEntry(spark: SparkSession, tag: String): Option[DataFrame] =
    censuses.synchronized(censuses.get((spark, tag)))

  /** The pins of one [[scope]]: `pin(df)` is `df.localCheckpoint(eager)`
    * owned by the scope. */
  final class Scope private[Pins] () {
    private var pins = Vector.empty[RDD[_]]

    def apply(df: DataFrame, eager: Boolean = true): DataFrame = {
      val pinned = df.localCheckpoint(eager)
      pins ++= leaves(pinned)
      pinned
    }

    /** Releases every pin that none of `live` reads. */
    def retain(live: DataFrame*): Unit = keepOnly(live.flatMap(leaves).toSet)

    private[Pins] def keepOnly(live: Set[RDD[_]]): Unit = {
      val firstDead = pins.indexWhere(p => !live(p))
      if (firstDead >= 0) {
        pins.drop(firstDead).filter(p => live(p) && !p.isCheckpointed)
          .foreach(_.count())
        pins.filterNot(live).foreach(_.unpersist(blocking = false))
        pins = pins.filter(live)
      }
    }
  }

  /** Runs `body` with a fresh [[Scope]] and releases its pins by the rule
    * above. */
  def scope[T](body: Scope => T): T = {
    val s = new Scope
    try {
      val out = body(s)
      s.keepOnly(out match {
        case df: Dataset[_] => leaves(df.toDF()).toSet
        case _ => Set.empty
      })
      out
    } catch {
      case t: Throwable => s.keepOnly(Set.empty); throw t
    }
  }

  private def leaves(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }
}
