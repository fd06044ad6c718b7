package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Globs

/** The listing front end the pipeline calls: a read of the
  * [[FsListingSource]] walk (S1-S4, P3/P4 — see its doc) with the
  * Indexer's two walk settings. The source is named by class, so the
  * pipeline needs no `DataSourceRegister` service file on its classpath.
  */
object FsListing {

  /** List `root` recursively into a DataFrame of
    * (filepath, name, size_bytes, modified_time, entry_type, depth) —
    * the reference's 11-field contract, pre-id.
    *
    * @param skipPatterns fnmatch globs pruned during the walk (P4),
    *                     matched against root-relative paths
    * @param includeHidden when false, dot-entries are pruned (P3)
    */
  def list(
      spark: SparkSession,
      root: String,
      skipPatterns: Seq[String] = Nil,
      includeHidden: Boolean = false): DataFrame = {
    val reader = spark.read.format(classOf[FsListingSource].getName)
      .option(FsListingSource.IncludeHidden, includeHidden)
    (if (skipPatterns.isEmpty) reader
     else reader.option(FsListingSource.SkipRegex,
       Globs.skipRegex(skipPatterns)))
      .load(root)
  }

  /** S6: single-directory batch source — one directory's RECURSIVE
    * listing capped at `batchSize` rows. Recursion is deliberate parity:
    * the reference's `process_directory` streams a full recursive
    * `find <dir>` and breaks at batch_size (batch_processor.py:185-195)
    * — it does not pass `-maxdepth 1`.
    */
  def listDir(
      spark: SparkSession,
      dir: String,
      batchSize: Int,
      skipPatterns: Seq[String] = Nil,
      includeHidden: Boolean = false): DataFrame =
    list(spark, dir, skipPatterns, includeHidden).limit(batchSize)
}
