package graft
import org.apache.spark.sql.SparkSession

/** The one local-session builder shared by every main (Bench, Verify,
  * and the dev tools). Each main used to hand-roll this block and they
  * drifted (one omitted the UTC pin) — a timed dev run could then plan
  * under a different session environment than the bench it reproduces.
  * Config changes needed for parity (legacy flags, timezone) go HERE,
  * once.
  */
object Sessions {

  /** RAM-backed scratch for shuffle files, stream checkpoints, staging
    * and store temp trees. Every envelope through round 10 was measured
    * with `/tmp` mounted as tmpfs; a host change then moved `/tmp` to
    * disk, which slowed exactly the shuffle/checkpoint/write-bound
    * entries 1.6–2.8× (measured: two agreeing post-change runs, CPU-
    * bound cache builds unchanged, the in-memory drift probe blind to
    * it). A single-node 128 GiB bench rig legitimately backs Spark
    * scratch with RAM (production: NVMe via `spark.local.dir`), so pin
    * scratch to the still-tmpfs `/dev/shm` when present — restoring the
    * environment all recorded numbers share — and fall back silently to
    * the JVM default otherwise (one stderr line says so when creating
    * the dir fails). */
  private[graft] lazy val scratchDir: Option[String] = {
    val base = java.nio.file.Paths.get("/dev/shm")
    try {
      if (java.nio.file.Files.isWritable(base)) {
        val dir = base.resolve("graft-scratch")
        java.nio.file.Files.createDirectories(dir)
        // NOTE: the JDK resolves java.io.tmpdir ONCE per JVM for
        // java.nio temp creation (TempFileHelper caches at class-init),
        // so this property pin is NOT sufficient for
        // Files.createTempDirectory call sites — those must go through
        // Fs.scratchTempDir/scratchTempFile, which target this root
        // explicitly (round-17 fix: artifact/store temp trees were
        // silently landing on a disk-backed /tmp). The pin stays for
        // third-party code that reads the property lazily.
        System.setProperty("java.io.tmpdir", dir.toString)
        Some(dir.toString)
      } else None
    } catch {
      case e @ (_: java.io.IOException | _: SecurityException) =>
        System.err.println(s"[graft] scratch root $base unusable ($e); " +
          "using the JVM temp dir")
        None
    }
  }

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      logLevel: String = "WARN"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = scratchDir.fold(b)(d => b.config("spark.local.dir", d))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
