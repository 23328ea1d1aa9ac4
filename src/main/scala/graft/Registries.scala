package graft

/** The one lifecycle for per-(session, dir) memos. Every
  * [[FrameRegistry]] and [[ArtifactRegistry]] registers its clear here
  * when it is constructed, so [[clearAll]] reaches every live memo
  * whichever tiers a run happened to touch — a main never lists tiers.
  * The per-tier targeted clears (bench warm re-time cycles) stay on
  * the tiers and keep their own scope. */
object Registries {
  private val frameClears =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
  private val dirClears =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Register a clear that unpersists cached frames. Besides the frame
    * registries, only SimilarityOps' jointly built k-means pair (kept
    * in its own map), the parquet schema memo ([[Tables]]) and
    * StreamingOps' input counts use this directly. */
  private[graft] def onClearFrames(clear: () => Unit): Unit = {
    frameClears.add(clear); ()
  }

  /** Register a clear that deletes artifact dirs. */
  private[graft] def onClearDirs(clear: () => Unit): Unit = {
    dirClears.add(clear); ()
  }

  /** Unpersist every registered frame, then delete every registered
    * artifact dir. Frames go first so no cached frame outlives the
    * files it was read from. A second call is a no-op. */
  def clearAll(): Unit = {
    frameClears.forEach(_())
    dirClears.forEach(_())
  }
}
