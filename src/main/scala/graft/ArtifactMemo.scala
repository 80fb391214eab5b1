package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

/** The per-JVM cache of built artifacts: trained tables, parsed models
  * and stored model directories. Verify, Bench reps and Plans construct
  * each query body many times per JVM, so an artifact is built ONCE and
  * every later construction pays only the query half.
  *
  * An entry is keyed by its kind and a fingerprint of its inputs — path,
  * size and mtime of every file under them — so retraining in place or
  * pointing at changed data rebuilds instead of serving a stale
  * artifact. Each kind keeps ONE live entry, which bounds retained heap
  * to one artifact per kind; the memo caches artifact state, never query
  * results. A directory the memo created for an entry ([[dir]]) is
  * deleted when the entry is replaced and at JVM exit. */
object ArtifactMemo {

  private final case class Entry(key: Any, value: Any, dir: Option[Path])

  /** Per kind: the lock builds hold, and the live entry. */
  private final class Slot { @volatile var entry: Option[Entry] = None }

  private val slots = new java.util.concurrent.ConcurrentHashMap[String, Slot]()

  sys.addShutdownHook(
    slots.values.asScala.foreach(_.entry.foreach(_.dir.foreach(delete))))

  /** The `kind` artifact built from `inputs` (files or directories) by
    * `build`, rebuilt when the inputs' fingerprint or `scope` changes
    * (`scope` carries non-file key parts, e.g. the session a frame is
    * bound to). */
  def apply[T](kind: String, inputs: Seq[String], scope: Any = ())
              (build: => T): T =
    lookup(kind, (fingerprint(inputs), scope), ownsDir = false)(_ => build)

  /** A stored artifact: `build` writes into a fresh directory the memo
    * owns; returns that directory's path. */
  def dir(kind: String, inputs: Seq[String])(build: String => Unit): String =
    lookup(kind, fingerprint(inputs), ownsDir = true) { d =>
      build(d.get.toString)
      d.get.toString
    }

  /** (path, size, mtime) of every regular file under `inputs`, sorted. */
  private def fingerprint(inputs: Seq[String]): Seq[(String, Long, Long)] =
    inputs.flatMap { in =>
      val files = Files.walk(Paths.get(in))
      try files.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => (p.toString, Files.size(p),
          Files.getLastModifiedTime(p).toMillis))
        .toVector.sortBy(_._1)
      finally files.close()
    }

  private def lookup[T](kind: String, key: Any, ownsDir: Boolean)
                       (build: Option[Path] => T): T = {
    val slot = slots.computeIfAbsent(kind, _ => new Slot)
    slot.synchronized {
      slot.entry match {
        case Some(e) if e.key == key => e.value.asInstanceOf[T]
        case stale =>
          // drop the stale entry first: at most one artifact per kind is live
          slot.entry = None
          stale.foreach(_.dir.foreach(delete))
          val d =
            if (ownsDir) Some(Files.createTempDirectory(s"graft_${kind}_store_"))
            else None
          val v = try build(d) catch { case e: Throwable =>
            d.foreach(delete); throw e
          }
          slot.entry = Some(Entry(key, v, d))
          v
      }
    }
  }

  private[graft] def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]())
        .forEach { p => Files.deleteIfExists(p); () }
      finally paths.close()
    }
}
