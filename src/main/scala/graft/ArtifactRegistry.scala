package graft

import org.apache.spark.sql.SparkSession

/** Per-(session, dir) persisted-artifact registry: build-once scratch
  * dirs holding parquet (or staged source) artifacts, named per entry.
  * Every tier's artifact dirs go through one of these, with the hazards
  * the hand-rolled copies kept re-growing fixed in ONE place:
  *
  *  - failure-safe creation: a THROWING build deletes its half-made
  *    dir before rethrowing, so no failed build can orphan a directory
  *    the clear path can never find, and the next call rebuilds;
  *  - build/clear exclusion: clears take the same lock as builds, so a
  *    clear racing an in-flight build waits for it and then deletes
  *    (the adopt contract) instead of deleting a directory a caller is
  *    about to read. Builds may nest (the lock is reentrant).
  *
  * The registry owns the key: the session UUID (stable and unique per
  * session — an identity hash can alias after a session is GC'd), the
  * fixture dir and the entry name. Each instance registers with
  * [[Registries.clearAll]] when constructed. */
final class ArtifactRegistry {
  private val dirs =
    scala.collection.mutable.HashMap.empty[(String, String, String), String]
  private val lock = new Object
  Registries.onClearDirs(() => clear())

  /** The artifact dir of entry `name` for (session, dir), building it
    * via `build(artifactDir)` on first access into a fresh scratch dir
    * named after the entry. Callers racing on the same entry share one
    * build. */
  def getOrBuild(s: SparkSession, d: String, name: String)
      (build: String => Unit): String = lock.synchronized {
    val key = FrameRegistry.key(s, d, name)
    dirs.getOrElse(key, {
      val dir = Fs.scratchTempDir(s"graft-$name-").toString
      try build(dir)
      catch { case e: Throwable => Fs.deleteTree(dir); throw e }
      dirs.put(key, dir)
      dir
    })
  }

  /** Delete every artifact dir and drop the pointers. */
  def clear(): Unit = lock.synchronized {
    dirs.values.foreach(Fs.deleteTree)
    dirs.clear()
  }

  /** Delete only the artifacts of entry `name` (every session and dir)
    * — the targeted clear a bench warm's re-time cycle needs: it drops
    * the entry's OWN artifact, never a sibling (`bm25` leaves `bm25incr`
    * and `bm25compact`) the other line items already paid for. */
  def clear(name: String): Unit = lock.synchronized {
    dirs.filterInPlace { case ((n, _, _), dir) =>
      val hit = n == name
      if (hit) Fs.deleteTree(dir)
      !hit
    }
  }
}
