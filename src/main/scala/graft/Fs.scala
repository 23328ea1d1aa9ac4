package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame

/** Shared filesystem helpers. Three near-identical walk-and-delete
  * implementations (and two write-one-parquet-file helpers) had grown
  * across StreamingOps / EmailOps / ScaleGen with subtly different
  * error handling — consolidated here (round-10 review) so fixes like
  * symlink handling propagate everywhere at once. */
object Fs {

  /** Best-effort recursive delete: children before parents, symlinks
    * removed as links (Files.walk does not follow them), every
    * per-file failure and the walk itself swallowed — callers use this
    * in finally blocks where a leaked temp dir is preferable to a
    * masked primary exception. */
  def deleteTree(root: Path): Unit = {
    scratchPaths.remove(root)
    try {
      import scala.jdk.CollectionConverters._
      if (Files.exists(root)) {
        val all = Files.walk(root).iterator().asScala.toSeq
        all.reverseIterator.foreach(p =>
          try { Files.deleteIfExists(p); () } catch { case _: Exception => () })
      }
    } catch { case _: Exception => () }
  }

  def deleteTree(root: String): Unit = deleteTree(Paths.get(root))

  /** Scratch temp dir on the pinned RAM-backed scratch root. The
    * `java.io.tmpdir` pin in [[Sessions.scratchDir]] does NOT reach
    * `Files.createTempDirectory`: the JDK resolves the property ONCE
    * per JVM (TempFileHelper caches it at class-init), so every
    * artifact/store temp tree was landing on a disk-backed `/tmp`
    * while `spark.local.dir` and the stream checkpoints sat on tmpfs
    * (measured round 17: em70's store writes alone carried seconds of
    * ext4 commit latency). Create scratch dirs explicitly under the
    * scratch root instead; fall back to the JVM default when the rig
    * has no tmpfs. Production translation: all engine scratch belongs
    * on the fast local volume (`spark.local.dir`'s NVMe), never the
    * root disk. Every dir made here is deleted at JVM exit unless
    * [[deleteTree]] removed it first. */
  def scratchTempDir(prefix: String): Path = track(Sessions.scratchDir match {
    case Some(d) => Files.createTempDirectory(Paths.get(d), prefix)
    case None => Files.createTempDirectory(prefix)
  })

  // File.deleteOnExit cannot remove a NON-EMPTY directory, so relying
  // on it leaked every still-populated scratch dir (final sink dirs,
  // staged symlink dirs) per JVM — observed as >1000 stale graft-*
  // entries accumulating across a day of runs. One recursive-delete
  // shutdown hook over the still-live set (dirs and files) instead.
  private val scratchPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchPaths.forEach(p => deleteTree(p))))
  }

  private def track(p: Path): Path = { scratchPaths.add(p); p }

  /** Scratch temp FILE on the pinned RAM-backed scratch root — same
    * rationale and the same exit-time delete as [[scratchTempDir]];
    * remove it early with [[deleteTree]]. */
  def scratchTempFile(prefix: String, suffix: String): Path =
    track(Sessions.scratchDir match {
      case Some(d) => Files.createTempFile(Paths.get(d), prefix, suffix)
      case None => Files.createTempFile(prefix, suffix)
    })

  /** Write `df` as ONE parquet file at exactly `target` (the driver's
    * single-file-per-table layout): coalesce(1) into a scratch dir,
    * move the part file to `target`, drop the scratch. Fails loudly if
    * the writer emitted no part file (an empty frame still emits one;
    * absence means the write itself went wrong). */
  def writeSingleParquet(df: DataFrame, target: Path): Path = {
    val tmp = scratchTempDir("graft-onefile")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val s = Files.list(tmp)
        try s.filter(_.getFileName.toString.startsWith("part-"))
          .findFirst()
        finally s.close()
      }
      require(part.isPresent, s"no part file written for $target")
      Files.createDirectories(target.getParent)
      Files.move(part.get(), target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      target
    } finally deleteTree(tmp)
  }
}
