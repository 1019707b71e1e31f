package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.util.control.NonFatal

/** The one session-pin registry: results a query family computes once
  * and shares (Beam's singleton/map side inputs, a shared pair frame, a
  * collected corpus total), held per (name, session, dir, key).
  *
  * The map holds a cell per key and `computeIfAbsent` only inserts the
  * empty cell, so a build runs under its own cell's monitor, never under
  * the map's bin lock: a build may run Spark jobs or request other pins,
  * and callers of unrelated keys never wait for it. Concurrent callers
  * of the same key wait for its one build. A build that throws leaves
  * the pin unbuilt, so the next call builds again.
  *
  * Pinned frames are `persist(MEMORY_AND_DISK)`, not `localCheckpoint`:
  * lineage survives, so lost blocks recompute (PinRecoverySpec), and
  * `Dataset.unpersist` releases the blocks on [[evict]].
  */
object Pins {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A pin's identity. `dir = None` marks a pin keyed on its input's
    * [[planDigest]] rather than on a data directory.
    */
  private[graft] final case class Key(name: String, session: SparkSession,
      dir: Option[String], key: String)

  private final class Cell {
    var built = false
    var value: Any = null
  }

  private val cells = new java.util.concurrent.ConcurrentHashMap[Key, Cell]()

  /** The pinned value, built on the first call for this key. */
  def get[T](name: String, session: SparkSession, dir: Option[String],
      key: String = "")(build: => T): T = {
    val cell = cells.computeIfAbsent(Key(name, session, dir, key), _ => new Cell)
    cell.synchronized {
      if (!cell.built) { cell.value = build; cell.built = true }
      cell.value.asInstanceOf[T]
    }
  }

  /** A persisted frame pin: `plan` at MEMORY_AND_DISK, released by
    * [[evict]].
    */
  def frame(name: String, session: SparkSession, dir: Option[String],
      key: String = "")(plan: => DataFrame): DataFrame =
    get(name, session, dir, key)(plan.persist(StorageLevel.MEMORY_AND_DISK))

  /** Drop `session`'s pins and release their frames' blocks. With
    * `dir = Some(d)` only d's pins and the digest-keyed (dir-less) pins
    * go; other sessions' pins are untouched. A pin whose build is still
    * running is released once the build finishes. A failed release is
    * logged with the pin and its cause, and eviction carries on.
    */
  def evict(session: SparkSession, dir: Option[String] = None): Unit = {
    val it = cells.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val k = e.getKey
      if ((k.session eq session) && (dir.isEmpty || k.dir.isEmpty || k.dir == dir)) {
        it.remove()
        val cell = e.getValue
        cell.synchronized {
          if (cell.built) cell.value match {
            case d: Dataset[_] =>
              try d.unpersist(blocking = false)
              catch { case NonFatal(t) =>
                log.warn(s"pin ${k.name} (session $session, dir " +
                  s"${k.dir.getOrElse("-")}, key ${k.key}) failed to release", t)
              }
            case _ => ()
          }
        }
      }
    }
  }

  /** Stable key for "this exact input frame": a UUID over the analyzed
    * plan's canonical form (the identity Catalyst's own exchange reuse
    * keys on).
    *
    * The canonical STRING alone is not an identity: `LocalRelation`'s
    * simpleString hides its rows and `LogicalRelation`'s hides the file
    * paths, so two different corpora with the same schema print the
    * same plan. Mix in `semanticHash()` (the canonicalized tree's
    * structural hash — it covers local rows via UnsafeRow bytes and
    * file relations via the index's rootPaths) so distinct inputs get
    * distinct keys while same-path re-reads still coincide.
    */
  def planDigest(df: DataFrame): String = {
    val canon = df.queryExecution.analyzed.canonicalized
    java.util.UUID.nameUUIDFromBytes(
      (canon.toString + "#" + df.queryExecution.analyzed.semanticHash())
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
  }
}
