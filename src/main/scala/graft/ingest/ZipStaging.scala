package graft.ingest

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.ZipInputStream

/** S3: zip staging — extract an uploaded archive into a temp dir and
  * ingest from there (ref: stage_zip_to_tmp app/orchestrator.py:67-71,
  * upload handling app/main.py:14-20). Spark has no zip source, so this
  * stays a driver-side utility by design (SURVEY.md §2.1 S3); entries
  * are materialized then read partition-parallel via binaryFile.
  *
  * Zip-slip safe: entries resolving outside the staging dir are
  * rejected.
  */
object ZipStaging {

  /** Extract `zipPath` into a fresh temp directory; returns the staged
    * root to hand to EmailIngest.scan / JobTracker.runPhases. */
  def stage(zipPath: String): Path = {
    val target = graft.Fs.scratchTempDir("graft-zip-stage")
    try stageInto(zipPath, target)
    catch { case e: Throwable =>
      // a zip-slip rejection or IO error mid-extraction must not leak
      // a partially-populated staging dir of extracted user data (the
      // caller only cleans up the path a SUCCESSFUL stage returns)
      cleanup(target)
      throw e
    }
  }

  private def stageInto(zipPath: String, target: Path): Path = {
    val zis = new ZipInputStream(Files.newInputStream(Paths.get(zipPath)))
    try {
      var entry = zis.getNextEntry
      while (entry != null) {
        val out = target.resolve(entry.getName).normalize()
        if (!out.startsWith(target))
          throw new IllegalArgumentException(
            s"zip entry escapes staging dir: ${entry.getName}")
        if (entry.isDirectory) Files.createDirectories(out)
        else {
          Files.createDirectories(out.getParent)
          val os = new BufferedOutputStream(new FileOutputStream(out.toFile))
          try {
            val buf = new Array[Byte](8192)
            var n = zis.read(buf)
            while (n >= 0) { os.write(buf, 0, n); n = zis.read(buf) }
          } finally os.close()
        }
        zis.closeEntry()
        entry = zis.getNextEntry
      }
    } finally zis.close()
    target
  }

  /** Best-effort recursive cleanup of a staged dir
    * (ref: cleanup app/orchestrator.py:73-74). Shared impl
    * [[graft.Fs.deleteTree]] — notably it swallows per-file failures,
    * where the previous inline walk could THROW from the `stage` error
    * path and mask the real extraction exception. */
  def cleanup(dir: Path): Unit = graft.Fs.deleteTree(dir)
}
