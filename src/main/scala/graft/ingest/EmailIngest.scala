package graft.ingest

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.Rfc822Parser
import graft.model.ParsedFile

/** Batch ingest of a hierarchical maildir tree (`base/<user>/<folder>/<file>`).
  *
  * Spark-native restatement of the reference's triple-nested sorted walk +
  * per-file parse (ref: ingest_enron.py:164-178 walk, :70-140 parse;
  * Celery fan-out app/orchestrator.py:28-51): the `binaryFile` source
  * lists and reads files partition-parallel on executors, the hierarchy
  * columns are recovered from the file path, and the parse runs inside
  * `mapPartitions` — no driver-side loops anywhere.
  *
  * Error semantics: a file that fails to parse becomes a row with a
  * non-null `error` instead of killing the job (PERMISSIVE-style;
  * ref: try/except at ingest_enron.py:181,205-206 → SURVEY.md §2.7 D5).
  * Ordering: the reference's sorted walk gives "first writer" semantics
  * for duplicate keys; here determinism comes from explicit ordering by
  * `path` in the merge (EmailStore.mergeBatch), so scan order is
  * irrelevant.
  */
object EmailIngest {

  /** Base-anchored depth-3 pattern: `<base>/<user>/<folder>/<file>`.
    * The reference walk (ingest_enron.py:164-178) ingests files at
    * exactly depth 3 and skips everything else — a recursive scan with
    * a last-3-segments regex would misattribute deeper files (an
    * intermediate directory becomes "user") and fabricate hierarchy for
    * shallower ones. */
  private[graft] def depth3Pattern(spark: SparkSession, baseDir: String): String = {
    val p = new Path(baseDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(p).toString.stripSuffix("/")
    "^" + java.util.regex.Pattern.quote(base) + "/([^/]+)/([^/]+)/([^/]+)$"
  }

  private def emptyScan(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("path", StringType), StructField("user", StringType),
        StructField("folder", StringType), StructField("filename", StringType),
        StructField("content", BinaryType))))
  }

  /** `path` with Hadoop glob metacharacters backslash-escaped, so a
    * glob-expanding reader takes it literally (a folder named `a[1]`). */
  private[graft] def escapeGlob(path: String): String =
    path.replaceAll("""([\\{}\[\]*?])""", """\\$1""")

  /** S1/S2: depth-3 scan + hierarchy columns anchored at `baseDir`.
    * The glob stops at the FOLDER level (`base/&#42;/&#42;`): globbing all the
    * way to files would enumerate every file as its own root path on
    * the driver (measured 7× slower at 25k files), while ~user×folder
    * directory roots list cheaply and in parallel. The anchored
    * pattern filter then keeps exactly `base/<user>/<folder>/<file>`
    * rows — deeper files (inside nested folders) and shallower ones are
    * dropped, matching the reference's exactly-depth-3 walk
    * (ingest_enron.py:164-178).
    *
    * The glob is expanded here, once, and the reader gets the matched
    * roots: handed the glob text itself, Spark's file-sink metadata
    * probe stats that literal path, which never exists, and logs a
    * WARN with a stack trace on every scan. */
  def scan(spark: SparkSession, baseDir: String): DataFrame = {
    val pat = depth3Pattern(spark, baseDir)
    val glob = new Path(escapeGlob(baseDir) + "/*/*")
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val roots = Option(fs.globStatus(glob)).toSeq.flatten
      .map(st => escapeGlob(st.getPath.toString))
    // no depth-2 entries at all → empty ingest (the reference's EMPTY
    // short-circuit, app/orchestrator.py:53-56); any other listing
    // failure throws rather than record an EMPTY job for data that was
    // never ingested
    if (roots.isEmpty) return emptyScan(spark)
    depth3(spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(roots: _*), pat)
  }

  /** The `binaryFile` rows of `files` at exactly depth 3 under the base
    * `pat` anchors ([[depth3Pattern]]), with the hierarchy recovered
    * from the path — the batch [[scan]] and the stream ingest's scan. */
  private[graft] def depth3(files: DataFrame, pat: String): DataFrame =
    files.filter(col("path").rlike(pat))
      .select(
        col("path"),
        regexp_extract(col("path"), pat, 1).as("user"),
        regexp_extract(col("path"), pat, 2).as("folder"),
        regexp_extract(col("path"), pat, 3).as("filename"),
        col("content"))

  /** The depth-3 files `scanned`, a [[scan]] of `baseDir`, reads,
    * counted on the driver from the listing its file relation already
    * holds: no Spark job. `inputFiles` gives URI strings (`a%5B1%5D`),
    * decoded here into the path form the `path` column and
    * [[depth3Pattern]] use. */
  def fileCount(spark: SparkSession, baseDir: String,
      scanned: DataFrame): Long = {
    val pat = java.util.regex.Pattern.compile(depth3Pattern(spark, baseDir))
    scanned.inputFiles
      .count(f => pat.matcher(new Path(new java.net.URI(f)).toString).find())
      .toLong
  }

  /** S4 + D5: parse each file into an EmailDoc row with error isolation. */
  def parse(spark: SparkSession, scanned: DataFrame): Dataset[ParsedFile] = {
    import spark.implicits._
    scanned
      .select("path", "user", "folder", "filename", "content")
      .as[(String, String, String, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (path, user, folder, filename, content) =>
          try {
            val doc = Rfc822Parser.parse(content, user, folder, filename)
            ParsedFile(path, user, folder, filename, Some(doc), None)
          } catch {
            case e: Exception =>
              ParsedFile(path, user, folder, filename, None,
                Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
          }
        }
      }
  }

  /** Full ingest: scan → parse. Rows with `error != null` are quarantine
    * rows; `docs` below gives the clean stream. */
  def ingest(spark: SparkSession, baseDir: String): Dataset[ParsedFile] =
    parse(spark, scan(spark, baseDir))

  /** Successfully parsed documents as store-schema rows (one row per
    * physical file — duplicates by dedupe_key are merged by the store's
    * upsert). */
  def docs(spark: SparkSession, parsed: Dataset[ParsedFile]): DataFrame =
    parsed.toDF().filter(col("doc").isNotNull)
      .select(col("path"), col("doc.*"))

  /** Quarantined failures (D5): path + error, never kills the job. */
  def quarantine(spark: SparkSession, parsed: Dataset[ParsedFile]): DataFrame =
    parsed.toDF().filter(col("error").isNotNull)
      .select(col("path"), col("error"))
}
