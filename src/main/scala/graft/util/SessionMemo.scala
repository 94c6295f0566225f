package graft.util

import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one build-once memo for relations, indexes and models derived
  * from a corpus dir — Kenshin's read path (fetch routes to archives
  * built once) applied to the query functions' shared prefixes, with
  * the per-session reuse and explicit owner of EDBT'20 incremental
  * top-K sessions.
  *
  *  - Key: the session (app id + the session object's identity) + the
  *    caller's entry key + the INPUT VERSION of `sfDir`: the (name,
  *    mtime, size) of each child, from one Hadoop-FS listing and no
  *    Spark job. A plan is never served to another session, and a
  *    rewritten input file is rebuilt, never served stale.
  *  - Eviction: at most [[MaxEntries]] per session, oldest-inserted first.
  *  - Release: evicting, invalidating or replacing a stale entry drops
  *    the reference and `unpersist()`s a persisted Dataset (its lineage
  *    is kept, so a caller still holding it recomputes). localCheckpoint
  *    entries are only dereferenced — their lineage is cut — and the
  *    ContextCleaner reclaims their blocks once unreachable. An
  *    application's end drops its entries (its storage ends with it).
  *  - Builds run under the memo lock, never inside a map's compute:
  *    builds nest (a PQ build gets the flat index first) and run from
  *    concurrent threads. A build that throws inserts nothing.
  *  - Counters: `memo.hit`, `memo.miss`, `memo.evict` in [[Instrument]]. */
object SessionMemo {

  /** Entries per session: a full `SparkEntry.queries` pass over one
    * corpus creates 10 distinct keys, so it evicts nothing, and the
    * spec-gated production twins (full co-purchase graph, OPQ) fit
    * beside them. */
  private[graft] val MaxEntries = 16

  private final case class Entry(version: String, value: AnyRef)

  // (app id, session) -> entries in insertion order, guarded by `this`.
  // SparkSession keeps reference equality, so the key is the session
  // object's identity
  private val sessions = mutable.HashMap
    .empty[(String, SparkSession), mutable.LinkedHashMap[String, Entry]]
  private val watchedApps = mutable.Set.empty[String]

  def getOrBuild[T <: AnyRef](spark: SparkSession, sfDir: String,
      key: String)(build: => T): T = {
    val version = inputVersion(spark, sfDir)
    val k = s"$key|$sfDir"
    synchronized {
      val entries = sessionEntries(spark)
      entries.get(k) match {
        case Some(e) if e.version == version =>
          Instrument.inc("memo.hit")
          e.value.asInstanceOf[T]
        case stale =>
          Instrument.inc("memo.miss")
          if (stale.nonEmpty) evict(entries, k)
          val v = build
          entries.put(k, Entry(version, v))
          while (entries.size > MaxEntries) evict(entries, entries.head._1)
          v
      }
    }
  }

  /** Drop one entry so the next [[getOrBuild]] rebuilds it. */
  def invalidate(spark: SparkSession, sfDir: String, key: String): Unit =
    synchronized {
      val entries = sessionEntries(spark)
      val k = s"$key|$sfDir"
      if (entries.contains(k)) evict(entries, k)
    }

  /** For specs: release every entry of every session. */
  private[graft] def clear(): Unit = synchronized {
    sessions.values.foreach(_.values.foreach(e => release(e.value)))
    sessions.clear()
  }

  private def sessionEntries(spark: SparkSession) = {
    val appId = spark.sparkContext.applicationId
    if (watchedApps.add(appId))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd)
            : Unit = SessionMemo.synchronized {
          sessions.keySet.filter(_._1 == appId).foreach(sessions.remove)
          watchedApps -= appId
        }
      })
    sessions.getOrElseUpdate((appId, spark), mutable.LinkedHashMap.empty)
  }

  private def evict(entries: mutable.LinkedHashMap[String, Entry],
      k: String): Unit = {
    entries.remove(k).foreach(e => release(e.value))
    Instrument.inc("memo.evict")
  }

  private def release(value: AnyRef): Unit = value match {
    case ds: Dataset[_] if ds.storageLevel != StorageLevel.NONE =>
      ds.unpersist(blocking = false)
    case _ =>
  }

  private def inputVersion(spark: SparkSession, sfDir: String): String = {
    val dir = new Path(sfDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir)
      .map(s => s"${s.getPath.getName}:${s.getModificationTime}:${s.getLen}")
      .sorted.mkString(",")
  }
}
