package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Globs
import graft.operators.Merge
import graft.sinks.ParquetIndex

/** J5's completion — the direct-link REFRESH loop
  * (direct_links.py:76-188): take the stale/missing-link work queue
  * (the query side is FsOps.staleLinks, P8+W1), fetch a fresh direct
  * link per file through a pluggable per-partition client, and
  * last-writer-wins-merge (J2, db_duckdb.py:242-245 INSERT OR REPLACE)
  * the results into the links store. Files whose fetch fails keep their
  * old link row; fresh links are never re-fetched (the v2 cache
  * semantics of direct_links.py:117-122).
  *
  * Scale notes: the fetch is `mapPartitions` — one client per partition,
  * no driver round-trip; the copy-on-write queue is a single left-join +
  * filter and its merge is [[Merge]]'s one key shuffle; the
  * merge-on-read refresh the pipeline runs is one full-outer join whose
  * checkpoint job also fetches. Nothing here collects.
  */
object LinkRefresh {

  /** The links-store schema: the direct_links table
    * (direct_links.py:43-51) plus the API-timestamp columns of the
    * reference's extended variant (tests/test_api_timestamps.py:161-170)
    * — the ES mapping declares `api_creation_time`/`api_modified_time`
    * (EsAdmin mirror of elasticsearch_integration.py:84-87), so the
    * store must be able to carry them to the publish payload.
    */
  val schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("direct_link",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("link_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("fsentry_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("api_creation_time",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("api_modified_time",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("last_updated",
        org.apache.spark.sql.types.TimestampType)))

  /** An empty links frame — the first-run seed of a links store. */
  def emptyLinks(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Upgrade a links frame to the current [[schema]]: columns a
    * pre-API-timestamp store lacks come back as typed nulls, column
    * order is canonicalized. Keeps an old store readable AND lets the
    * next write migrate it (the refresh aligns its batch to the frame
    * passed in, so without this the old 5-column shape would
    * perpetuate and the publish path's api_* selects would fail).
    */
  def align(links: DataFrame): DataFrame = {
    val have = links.columns.toSet
    val widened = schema.fields.foldLeft(links)((df, f) =>
      if (have.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType)))
    widened.select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** A successful fetch: the direct link plus whatever metadata the API
    * returned — v2 fsentry id (direct_links.py:112-124) and the API's
    * own creation/modification timestamps
    * (tests/test_api_timestamps.py:161-170), all optional.
    */
  final case class FetchedLink(
      directLink: String,
      fsentryId: Option[String] = None,
      apiCreationTime: Option[java.sql.Timestamp] = None,
      apiModifiedTime: Option[java.sql.Timestamp] = None)

  /** One link fetch: (filepath, cached fsentry_id) →
    * Some(FetchedLink) on success, None on failure
    * (direct_links.py:129-141; a 400 from the API means "unsupported
    * file — skip", which the reference also drops).
    */
  trait Fetch extends ((String, Option[String])
    => Option[FetchedLink]) with Serializable

  /** `merged` = the full LWW-merged links frame (the copy-on-write
    * write-back); `batch` = just the freshly fetched rows in store
    * schema; `refreshed` = the batch's row count.
    */
  final case class Result(merged: DataFrame, refreshed: Long,
      batch: DataFrame)

  /** The work queue: files whose link is missing or older than the
    * file's mtime (same P8 predicate as the `fs_stale_links` query),
    * minus skip-pattern matches (direct_links.py:104-106). Carries the
    * cached fsentry_id so a v2 fetch can reuse it (:112-124).
    */
  def staleQueue(files: DataFrame, links: DataFrame,
      skipPatterns: Seq[String] = Nil): DataFrame = {
    val l = links.select(col("file_id"), col("last_updated"),
      col("fsentry_id"))
    val base = files.select("id", "filepath", "modified_time")
      .join(l, col("id") === col("file_id"), "left")
      .filter(col("file_id").isNull ||
        col("last_updated") < col("modified_time"))
      .select(col("id"), col("filepath"), col("fsentry_id"))
    if (skipPatterns.isEmpty) base
    else base.filter(
      !col("filepath").substr(lit(2), lit(Int.MaxValue))
        .rlike(Globs.skipRegex(skipPatterns)))
  }

  /** Fetch every queued link and J2-merge the successes into the
    * current links frame. `version` selects the reference's v2/v3 link
    * dialect; `now` stamps `last_updated` (a parameter, not
    * `current_timestamp()`, so runs are deterministic and testable).
    */
  def refresh(
      spark: SparkSession,
      files: DataFrame,
      links: DataFrame,
      fetch: Fetch,
      version: Int = 2,
      skipPatterns: Seq[String] = Nil,
      now: java.sql.Timestamp = java.sql.Timestamp.from(
        java.time.Instant.now())): Result = {
    import spark.implicits._
    // each queued key marked stale, with no stored row to keep (the
    // merge below keeps those) and its cached fsentry_id
    val queued = staleQueue(files, links, skipPatterns).select(
      Seq(col("id"), col("filepath")) ++ schema.fields.map(f =>
        if (f.name == "fsentry_id") col(f.name)
        else lit(null).cast(f.dataType).as(f.name)) :+
        lit(Kind.Stale).as("state"): _*)
    val batch = fetchStale(queued.as[Marked], fetch, version, now)
      .select(links.columns.map(col).toIndexedSeq: _*)
      // eager localCheckpoint: the HTTP fetch runs exactly ONCE, here —
      // neither the refreshed-count action nor the merge's shuffle can
      // re-trigger it (same fetch-once discipline as RestWalker)
      .localCheckpoint(true)
    // J2 LWW on file_id: a fetched row always replaces the stored one
    // (its last_updated is `now`, but batchWinsTies guards equal stamps)
    val merged = Merge.merge(links, batch, "file_id", "last_updated",
      batchWinsTies = true)
    Result(merged, batch.count(), batch)
  }

  /** The full store round-trip: read the links [[ParquetIndex]], refresh
    * against `files`, reconcile away links whose file vanished from the
    * scan (without this the store grows monotonically on a churning
    * tree — every deleted file would leave a permanent orphan row), and
    * write the merged snapshot back — but ONLY when something changed
    * (links refreshed, orphans dropped, or the stored schema healed):
    * a steady-state run must not pay a full store rewrite for nothing.
    * Returns the count of refreshed links (re-running immediately
    * yields 0 — the queue drains, which IndexerSpec-style specs assert).
    */
  def refreshIndex(
      spark: SparkSession,
      files: DataFrame,
      linksIndex: ParquetIndex,
      fetch: Fetch,
      version: Int = 2,
      skipPatterns: Seq[String] = Nil,
      now: java.sql.Timestamp = java.sql.Timestamp.from(
        java.time.Instant.now()),
      reconcile: Boolean = true): Long = {
    // first run: an empty links store means EVERY file is queued —
    // exactly the reference's fresh direct_links DB; align() upgrades a
    // pre-API-timestamp store to the current schema
    val stored = linksIndex.read(spark)
    val links = align(stored.getOrElse(emptyLinks(spark)))
    // name-sequence compare, not count: a same-arity schema change must
    // still trigger the migrating write or align() papers over it forever
    val schemaHealed =
      stored.exists(_.columns.toSeq != schema.fieldNames.toSeq)
    val r = refresh(spark, files, links, fetch, version, skipPatterns, now)
    val keep = files.select(col("id")).distinct()
    val doReconcile = reconcile && stored.nonEmpty
    val finalLinks =
      if (doReconcile)
        r.merged.join(keep, r.merged("file_id") === keep("id"),
          "left_semi")
      else r.merged
    val mustWrite = r.refreshed > 0 || schemaHealed
    // the orphan probe is an extra job over the store — run it ONLY
    // when its answer actually decides whether to write
    val orphans =
      if (doReconcile && !mustWrite)
        links.join(keep, links("file_id") === keep("id"), "left_anti")
          .count()
      else 0L
    if (mustWrite || orphans > 0)
      linksIndex.write(finalLinks): Unit
    r.refreshed
  }

  /** The MOR view of a links store: base + pending log resolved with
    * the refresh's own LWW rule (J2, batch wins ties). Empty store →
    * None.
    */
  def readLinksMor(spark: SparkSession,
      linksIndex: ParquetIndex): Option[DataFrame] =
    linksIndex.readMor(spark, "file_id", "last_updated",
      batchWinsTies = true)

  /** [[refreshIndex]] on the MERGE-ON-READ write path: identical
    * observable store state (LinkRefreshSpec proves it against the
    * copy-on-write twin), but each refresh writes ONLY its fetched
    * batch as a log delta (plus a key-only delete sidecar for orphaned
    * links) instead of rewriting the whole links snapshot — at index
    * scale the links table is as big as the file index while a refresh
    * batch is the handful of stale links, which is exactly the
    * write-amplification case the MOR log exists for. The log folds
    * back into a real snapshot every `checkpointEvery` entries
    * (read amplification stays bounded; ParquetIndex measures the
    * amortization in MorIndexSpec/PERF.md).
    *
    * ONE PASS over the store: the MOR view is resolved once and
    * full-outer-joined with `files` on the file id; each key is marked
    * stale (no link, or one older than its file — never a skip-matched
    * file), orphan (its file vanished; only with `reconcile` over a
    * stored view) or kept, the stale keys alone are fetched, and the
    * result is checkpointed in ONE job — the fetch-once discipline of
    * [[refresh]] (no later action can re-run a fetch), with the
    * fetched and orphan counts riding that job as an observation. A
    * failed fetch keeps the key's old row.
    *
    * Returns (links fetched, the post-refresh links frame): the kept
    * rows plus each stale key's fetched-or-old row, in [[schema]]. It
    * equals [[readLinksMor]] read after the refresh, row for row
    * (LinkRefreshSpec), but is built from the checkpointed pass, so a
    * consumer (the publish's link join) pays no second resolve.
    * `reconcile = false` leaves links of files outside `files` alive
    * and in the returned frame — for a caller whose `files` is a
    * delta, not the corpus.
    *
    * A store with a pre-API-timestamp schema takes the copy-on-write
    * path once (appendDelta requires base-schema parity; the CoW write
    * IS the migration), then appends thereafter.
    */
  def refreshIndexMor(
      spark: SparkSession,
      files: DataFrame,
      linksIndex: ParquetIndex,
      fetch: Fetch,
      version: Int = 2,
      skipPatterns: Seq[String] = Nil,
      now: java.sql.Timestamp = java.sql.Timestamp.from(
        java.time.Instant.now()),
      reconcile: Boolean = true,
      checkpointEvery: Int = 16): (Long, DataFrame) = {
    import spark.implicits._
    val stored = readLinksMor(spark, linksIndex)
    if (stored.exists(_.columns.toSeq != schema.fieldNames.toSeq)) {
      val n = refreshIndex(spark, files, linksIndex, fetch, version,
        skipPatterns, now, reconcile)
      return (n, align(readLinksMor(spark, linksIndex)
        .getOrElse(emptyLinks(spark))))
    }
    val links = align(stored.getOrElse(emptyLinks(spark)))
    val skipped =
      if (skipPatterns.isEmpty) lit(false)
      else col("filepath").substr(lit(2), lit(Int.MaxValue))
        .rlike(Globs.skipRegex(skipPatterns))
    // staleQueue's predicate; a skip-matched file with no link has
    // nothing to keep or fetch and drops out before the marking
    val state =
      when(col("id").isNull, lit(
        if (reconcile && stored.nonEmpty) Kind.Orphan else Kind.Keep))
        .when(!skipped && (col("file_id").isNull ||
          col("last_updated") < col("modified_time")), lit(Kind.Stale))
        .otherwise(lit(Kind.Keep))
    val counts = Observation()
    val out = files.select("id", "filepath", "modified_time")
      .join(links, col("id") === col("file_id"), "full_outer")
      .filter(col("file_id").isNotNull || !skipped)
      .select((Seq("id", "filepath") ++ schema.fieldNames).map(col) :+
        state.as("state"): _*)
      .as[Marked]
      .transform(fetchStale(_, fetch, version, now))
      .observe(counts,
        count_if(col("kind").isin(Kind.Fetched, Kind.Superseded))
          .as("fetched"),
        count_if(col("kind") === Kind.Orphan).as("orphans"))
      // eager localCheckpoint: the HTTP fetch runs exactly ONCE, here
      // — neither the appends nor the returned frame's consumers can
      // re-trigger it (same fetch-once discipline as RestWalker)
      .localCheckpoint(true)
    def observed(name: String): Long = counts.get(name).asInstanceOf[Long]
    val cols = schema.fieldNames.toIndexedSeq.map(col)
    val refreshed = observed("fetched")
    // write ∝ batch: the fetched rows append as one log delta (the
    // first-ever batch just becomes the base snapshot inside
    // appendDelta); `out` is checkpointed, so it cannot observe the
    // log it is appended to
    if (refreshed > 0)
      linksIndex.appendDelta(spark,
        out.filter(col("kind").isin(Kind.Fetched, Kind.Superseded))
          .select(cols: _*)): Unit
    // links whose file vanished from the scan → key-only delete
    // sidecar (orphans and the delta's file_ids are disjoint by
    // construction — fetched ⊆ files); the orphan set is a handful of
    // keys, so one partition writes it with no distinct shuffle
    if (observed("orphans") > 0)
      linksIndex.appendDelete(spark,
        out.filter(col("kind") === Kind.Orphan).select("file_id")
          .coalesce(1), "file_id"): Unit
    if (linksIndex.currentId.exists(cid =>
        linksIndex.morEntries(cid).size >= checkpointEvery))
      linksIndex.checkpointMor(spark, "file_id", "last_updated",
        batchWinsTies = true): Unit
    (refreshed, out.filter(col("kind").isin(Kind.Keep, Kind.Fetched))
      .select(cols: _*))
  }

  // what the marking says of a key, then what the refresh did with it:
  // kept (stored row stays), orphan (stored row deleted), fetched
  // (delta row, the key's new winner), superseded (delta row that
  // loses the store's LWW to a stored row stamped after `now`, which
  // stays kept)
  private object Kind {
    val Stale = "stale"
    val Keep = "keep"
    val Orphan = "orphan"
    val Fetched = "fetched"
    val Superseded = "superseded"
  }

  /** Fetch `marked`'s stale keys, one client per partition, into the
    * rows [[LinkRow.of]] leaves.
    */
  private def fetchStale(marked: Dataset[Marked], fetch: Fetch,
      version: Int, now: java.sql.Timestamp): Dataset[LinkRow] = {
    import marked.sparkSession.implicits._
    val linkType = s"v$version"
    marked.mapPartitions(_.flatMap(LinkRow.of(_, fetch, linkType, now)))
  }

  /** One key of the refresh's full-outer join: the file (null for an
    * orphan) and its stored link row (null for a file with no link),
    * with its marking.
    */
  private[pipeline] final case class Marked(
      id: String, filepath: String, file_id: String, direct_link: String,
      link_type: String, fsentry_id: String,
      api_creation_time: java.sql.Timestamp,
      api_modified_time: java.sql.Timestamp,
      last_updated: java.sql.Timestamp, state: String)

  /** A links row in [[schema]] order, with what the refresh did to it. */
  private[pipeline] final case class LinkRow(
      file_id: String, direct_link: String, link_type: String,
      fsentry_id: String, api_creation_time: java.sql.Timestamp,
      api_modified_time: java.sql.Timestamp,
      last_updated: java.sql.Timestamp, kind: String)

  private[pipeline] object LinkRow {
    /** The rows one marked key leaves; only a stale key is fetched. */
    def of(m: Marked, fetch: Fetch, linkType: String,
        now: java.sql.Timestamp): Seq[LinkRow] = {
      def old(kind: String) = Seq(LinkRow(m.file_id, m.direct_link,
        m.link_type, m.fsentry_id, m.api_creation_time,
        m.api_modified_time, m.last_updated, kind))
      if (m.state != Kind.Stale) old(m.state)
      else fetch(m.filepath, Option(m.fsentry_id)) match {
        case None => if (m.file_id == null) Nil else old(Kind.Keep)
        case Some(f) =>
          // the store's LWW rule: last_updated, then the later log
          // generation — so a stored row loses unless stamped after now
          val oldWins = m.last_updated != null && m.last_updated.after(now)
          LinkRow(m.id, f.directLink, linkType, f.fsentryId.orNull,
            f.apiCreationTime.orNull, f.apiModifiedTime.orNull, now,
            if (oldWins) Kind.Superseded else Kind.Fetched) +:
            (if (oldWins) old(Kind.Keep) else Nil)
      }
    }
  }
}
