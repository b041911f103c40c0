package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.incremental.Incremental

/** Filesystem source (reference dlt/sources/filesystem/__init__.py:1-167,
  * readers.py:15-143): list files as FileItems, then reader transformers
  * per format. Spark's distributed readers replace the fsspec+chunk loop;
  * `input_file_name()` supplies per-row provenance.
  */
object Filesystem {

  /** The cursor config incremental listings ride (the reference composes
    * the filesystem source with `dlt.sources.incremental` on
    * `FileItem.modification_date` — filesystem/__init__.py:1-167): mtime
    * is the cursor, the boundary fingerprint is the file PATH, so a
    * re-listed file sitting exactly on the stored boundary mtime is
    * dropped while a genuinely new (or rewritten, newer-mtime) file
    * loads. Files with no mtime are excluded rather than erroring. */
  val incrementalListing: Incremental.Config = Incremental.Config(
    cursorColumn = "modification_date",
    primaryKey = Seq("file_url"),
    onMissing = Incremental.Exclude)

  /** Incremental file listing: list the glob, keep only files NEWER than
    * the stored cursor (boundary-deduped by path), and return the
    * advanced state to persist for the next run. Exactly-once per file
    * across overlapping listings; a file REWRITTEN with a newer mtime
    * re-delivers, matching the reference's new-and-changed semantics.
    * The mtime window is an ordinary pushable predicate over the listing
    * frame; state stays driver-small (one timestamp + the boundary
    * paths' fingerprints). */
  def listIncremental(spark: SparkSession, globPath: String,
      state: Incremental.State): (DataFrame, Incremental.State) = {
    val fresh = Incremental(listFiles(spark, globPath), incrementalListing, state)
    (fresh, Incremental.advance(fresh, incrementalListing, state))
  }

  /** FileItem listing (reference FileItem): one row per file with path,
    * size and modification time — `binaryFile` gives the metadata without
    * reading content (content column dropped). A glob matching NOTHING
    * (e.g. the first incremental run against a still-empty prefix)
    * lists as empty instead of throwing. */
  def listFiles(spark: SparkSession, globPath: String): DataFrame =
    try spark.read.format("binaryFile")
      .option("pathGlobFilter", "*")
      .load(globPath)
      .select(
        col("path").as("file_url"),
        element_at(split(col("path"), "/"), -1).as("file_name"),
        col("modificationTime").as("modification_date"),
        col("length").as("size_in_bytes"))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getErrorClass).exists(_.startsWith("PATH_NOT_FOUND")) =>
        import org.apache.spark.sql.types._
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(
            StructField("file_url", StringType),
            StructField("file_name", StringType),
            StructField("modification_date", TimestampType),
            StructField("size_in_bytes", LongType))))
    }

  /** PIPELINE-NATIVE incremental file loading (the reference composes
    * the filesystem source with `dlt.sources.incremental` and the
    * pipeline persists the cursor — filesystem/__init__.py + pipeline
    * state): window the listing by the pipeline's persisted mtime
    * cursor, read ONLY the new/changed files through `readFiles`, load
    * them into `table`, then advance and re-sync the cursor so
    * `_dlt_pipeline_state` carries it under the same load id. Returns
    * the written tables, or empty WITHOUT running a load when no new
    * files exist (no empty load package, no spurious `_dlt_loads` row).
    *
    * State advances only AFTER a successful load (a failed load re-runs
    * from the old cursor; path-fingerprint dedup makes the overlap
    * exactly-once). A fresh machine restoring state from the
    * destination resumes from the last synced cursor. */
  def runIncremental(p: graft.pipeline.Pipeline, table: String,
      globPath: String, loadId: String)(
      readFiles: (SparkSession, Seq[String]) => DataFrame): Map[String, Seq[String]] = {
    val key = s"$table/__files__"
    val st = p.states.load(p.name, key)
    val (fresh, newState) = listIncremental(p.spark, globPath, st)
    // the file list is driver-small by contract — it IS the work list
    val files = fresh.select("file_url").collect().map(_.getString(0)).toSeq
    if (files.isEmpty) Map.empty
    else {
      val out = p.run(
        Seq(graft.pipeline.Resource(table, readFiles(p.spark, files))), loadId)
      p.states.save(p.name, key, newState)
      p.syncState(loadId)
      out
    }
  }

  /** read_csv transformer (readers.py) with file provenance column. */
  def readCsv(spark: SparkSession, path: String, header: Boolean = true,
              inferSchema: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("inferSchema", inferSchema.toString)
      .csv(path)
      .withColumn("_file_name", input_file_name())
}
