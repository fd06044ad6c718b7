package graft.pipeline

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SizeFormat
import graft.operators.Merge
import graft.sinks.{EsAdmin, EsSink, ParquetIndex}
import graft.sources.FsListing
import graft.stats.RunStats

/** Pipeline configuration — the reference's indexer-config.yaml surface
  * (config/indexer-config.yaml: root_path, mode, skip_patterns,
  * batch sizes, ES index). Parsed from the reference YAML by
  * [[IndexerConfig.loadYaml]] or from flat `key=value` lines by
  * [[IndexerConfig.load]] (no YAML dependency in a zero-egress build;
  * the keys match the reference's).
  */
final case class IndexerConfig(
    rootPath: String,
    indexRoot: String,
    mode: String = "elasticsearch", // or "index-only" (main.py:60-62)
    skipPatterns: Seq[String] = IndexerConfig.defaultSkips,
    includeHidden: Boolean = false,
    esIndex: String = "files",
    esBatchSize: Int = 1000,
    snapshotFiles: Int = 4,
    getDirectLinks: Boolean = true)

object IndexerConfig {
  /** Reference defaults (config/indexer-config.yaml:121-152, abridged). */
  val defaultSkips: Seq[String] = Seq(
    ".git", ".svn", "node_modules", "__pycache__", ".DS_Store",
    "*.tmp", "*.swp", "*.lock")

  /** Flat `key=value` lines to a key map; blank and `#` lines are
    * skipped, as are lines without `=`.
    */
  private[pipeline] def kvPairs(lines: Seq[String]): Map[String, String] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        l.split("=", 2) match {
          case Array(k, v) => Some(k.trim -> v.trim)
          case _ => None
        }
      }.toMap

  /** Flat `key=value` config: the same keys, defaults and parsing as
    * [[loadYaml]]'s overrides, with no YAML document under them.
    */
  def load(lines: Seq[String]): IndexerConfig = loadYaml("", kvPairs(lines))

  /** Load the reference's actual YAML config surface
    * (config/indexer-config.yaml via config/config.py:6-26
    * `yaml.safe_load`) — nested keys mapped onto [[IndexerConfig]]:
    *
    *  - `mode`, `root_path` → as-is
    *  - `skip_patterns.patterns` → skipPatterns;
    *    `skip_patterns.hidden_files` false → includeHidden
    *  - `elasticsearch.index_name` / `.bulk_size` → esIndex/esBatchSize
    *  - `lucidlink_filespace.get_direct_links` → getDirectLinks
    *  - `database.connection.url` (`duckdb:///path/db.duckdb`) → the
    *    snapshot-store root (the embedded-DuckDB file location becomes
    *    the ParquetIndex directory — same place in the deployment, a
    *    different storage format)
    *
    * `overrides` uses the same flat keys as [[load]] and wins over the
    * file (the reference's `--root-path` CLI override, main.py:44-47).
    */
  def loadYaml(text: String,
      overrides: Map[String, String] = Map.empty): IndexerConfig = {
    val doc = Yaml.parse(text)
    def over(k: String): Option[String] = overrides.get(k)
    val rootPath = over("root_path")
      .orElse(Yaml.str(doc, "root_path").filter(_.nonEmpty))
      .getOrElse(sys.error("root_path is required (file or override)"))
    val indexRoot = over("index_root")
      .orElse(Yaml.str(doc, "database", "connection", "url")
        .map(_.stripPrefix("duckdb://")))
      .getOrElse(sys.error("index_root or database.connection.url required"))
    IndexerConfig(
      rootPath = rootPath,
      indexRoot = indexRoot,
      mode = over("mode").orElse(Yaml.str(doc, "mode"))
        .getOrElse("elasticsearch"),
      skipPatterns = over("skip_patterns")
        .map(_.split(",").map(_.trim).toSeq)
        .orElse(Yaml.list(doc, "skip_patterns", "patterns")
          .map(_.collect { case s: String => s }))
        .getOrElse(defaultSkips),
      includeHidden = over("include_hidden").map(_.toBoolean)
        .orElse(Yaml.bool(doc, "skip_patterns", "hidden_files").map(!_))
        .getOrElse(false),
      esIndex = over("es_index")
        .orElse(Yaml.str(doc, "elasticsearch", "index_name"))
        .getOrElse("files"),
      esBatchSize = over("es_batch_size").map(_.toInt)
        .orElse(Yaml.long(doc, "elasticsearch", "bulk_size").map(_.toInt))
        .getOrElse(1000),
      // graft extension key: honored as a top-level YAML key too, not
      // just a flat override (it has no reference-yaml equivalent).
      // Single-node parity default (the reference's store is ONE
      // DuckDB file); set 0 on a cluster to keep the distributed
      // write width
      snapshotFiles = over("snapshot_files").map(_.toInt)
        .orElse(Yaml.long(doc, "snapshot_files").map(_.toInt))
        .getOrElse(4),
      // reference default true (main.py:121); effective only when a
      // link-fetch client is wired (mode=elasticsearch, main.py:190)
      getDirectLinks = over("get_direct_links").map(_.toBoolean)
        .orElse(Yaml.bool(doc, "lucidlink_filespace", "get_direct_links"))
        .getOrElse(true))
  }
}

final case class RunReport(
    stats: RunStats.Stats,
    indexed: Long, esFailed: Long, removed: Long, snapshotId: String,
    linksRefreshed: Long = 0L)

/** The full pipeline lifecycle (SURVEY.md §3.1, main.py:245-365):
  * scan → normalize → merge into the index → reconcile deletions →
  * (elasticsearch mode) enrich with directory sizes and publish.
  *
  * Every stage is a DataFrame program: the scan streams out of
  * [[FsListing]]'s per-partition iterators, the merge/reconcile are
  * single key-shuffles ([[ParquetIndex]]), the rollup is the
  * ancestor-explode aggregation, and the ES publish is a
  * `foreachPartition` bulk sink. Nothing materializes on the driver but
  * the run counters (collected via `observe`, A8). There is ONE publish
  * path (`publish`): the full [[run]] sends the corpus through it, the
  * catch-up ([[publishScoped]]/[[publishCatchUp]]) the delta.
  */
final class Indexer(cfg: IndexerConfig, transport: Option[EsSink.Transport],
    admin: Option[EsAdmin.Transport] = None,
    linkFetch: Option[LinkRefresh.Fetch] = None) {

  private def normalize(listing: DataFrame): DataFrame =
    Indexer.normalize(listing)

  // ------------------------------------------------------------------ //
  // Stored dirSizes rollup: a snapshot of (directory_path, sz, fc)     //
  // lives beside the index, stamped with the corpus token it matches.  //
  // A scoped refresh PATCHES it with the scope's signed change feed    //
  // (FsOps.dirRollupFoldAgg); the publish reads it as-is while its     //
  // token is current and recomputes it otherwise (`publish`).          //
  // ------------------------------------------------------------------ //

  private def rollupStore(): ParquetIndex =
    new ParquetIndex(s"${cfg.indexRoot}/dirsizes")

  // tokens live on the snapshot store's root, which is POSIX-only
  // (ParquetIndex), and are replaced the way its `CURRENT` pointer is:
  // an atomic rename of a fully-written temp file over the old token,
  // so a crash at any point leaves the old token or the new one —
  // never none, never a torn one; silent drift is impossible.
  private def readToken(p: java.nio.file.Path): Option[String] =
    if (java.nio.file.Files.exists(p))
      Some(java.nio.file.Files.readString(p).trim)
    else None

  private def writeToken(p: java.nio.file.Path, t: String): Unit = {
    java.nio.file.Files.createDirectories(p.getParent)
    ParquetIndex.replaceFile(p, t)
  }

  /** The corpus token the stored rollup is valid for. Written AFTER
    * the rollup snapshot (crash between the two leaves a stale token →
    * the next publish recomputes; never a silent drift).
    */
  private def rollupTokenPath =
    java.nio.file.Paths.get(cfg.indexRoot, "dirsizes", "_corpus_token")

  /** ES-PUBLISHED WATERMARK: the corpus token whose resolved view
    * Elasticsearch last received in full (a clean full [[run]] publish
    * or a clean [[publishScoped]]/[[publishCatchUp]]). [[publishScoped]]
    * refuses to run while the store is ahead of it — a bare
    * [[runScoped]] interlude, a crashed publish, or a store that was
    * never published would otherwise leave ES silently missing those
    * transitions forever (the r14 advice's drift hole);
    * [[publishCatchUp]] closes the gap with delta-sized traffic.
    * Advanced only on ZERO-failure sends, so a rejected batch keeps
    * the watermark behind and the catch-up re-sends it (ES upserts
    * and deletes are idempotent by id).
    */
  private def esWatermarkPath =
    java.nio.file.Paths.get(cfg.indexRoot, "_es_published")

  /** Whether the stored rollup holds the totals of the corpus `idx`
    * resolves to now (its token matches the store's).
    */
  private def rollupCurrent(idx: ParquetIndex): Boolean =
    rollupStore().currentId.isDefined &&
      readToken(rollupTokenPath).contains(Indexer.corpusToken(idx))

  /** The full document field surface of the reference's bulk payload
    * (elasticsearch_integration.py:98-112 + the mapping's fields),
    * built in the one `publish` that the full run and the catch-up
    * share. `sizes` is (dp, total_size); `links` the aligned
    * link columns keyed file_id.
    */
  private def buildDocs(current: DataFrame, sizes: DataFrame,
      links: DataFrame): DataFrame = {
    val iso = "yyyy-MM-dd'T'HH:mm:ss"
    // scale-adaptive build sides (rollup totals, link columns), anchored
    // on the snapshot store's on-disk size: broadcast under the
    // threshold (the doc stream then pays ZERO exchanges before the
    // sink), hinted shuffle_hash above it — the corpus-sized doc stream
    // must never be sorted on the publish path, same plan discipline as
    // FsOps.esDocs
    val build = graft.operators.FsOps
      .adaptiveBuildBy(current.sparkSession, cfg.indexRoot) _
    current
      .join(build(sizes), col("filepath") === col("dp"), "left")
      .join(build(links), col("id") === col("file_id"), "left") // J8
      .select(
        col("id"), col("relative_path"), col("filepath"), col("name"),
        col("type"), col("extension"), col("checksum"),
        when(col("type") === "directory",
          coalesce(col("total_size"), lit(0L)))
          .otherwise(col("size_bytes")).as("size_bytes"),
        date_format(col("modified_time"), iso).as("modified_time"),
        date_format(col("creation_time"), iso).as("creation_time"),
        date_format(col("last_seen"), iso).as("last_seen"),
        coalesce(col("dl"), lit("")).as("direct_link"),
        coalesce(col("fse"), lit("")).as("fsentry_id"),
        // mapping-declared API timestamps (EsAdmin mirror of
        // elasticsearch_integration.py:84-87): emitted when the
        // fetch returned them; null → to_json omits the field
        date_format(col("act"), iso).as("api_creation_time"),
        date_format(col("amt"), iso).as("api_modified_time"))
      .withColumn("size", SizeFormat.format_size(col("size_bytes")))
  }

  /** The snapshot store, partitioned by a hash bucket of the first
    * path segment — the ART-index replacement (SURVEY §4.1): point and
    * prefix queries prune to one partition directory.
    */
  private def store(): ParquetIndex =
    new ParquetIndex(cfg.indexRoot,
      partitionBy = Seq(ParquetIndex.PathPartitionCol),
      writeFiles = cfg.snapshotFiles,
      // row-group stats stay selective for point/prefix lookups within
      // each partition bucket (the read-side predicate is always a
      // relative_path point or prefix — pathPrefixFilter)
      sortWithin = Seq("relative_path"))

  /** Event-driven incremental run — the 100 TB mode a periodic full
    * rescan cannot be: refresh ONLY the subtrees under `changedDirs`
    * (root-relative paths, e.g. from inotify/object-store
    * notifications) through the snapshot store's merge-on-read log.
    * Scan cost ∝ the changed subtrees, write cost ∝ their entries
    * ([[ParquetIndex.refreshScopeMor]]); every other key is untouched.
    * The scope is walked by the full run's own walker with the scope
    * pushed in, so it reads exactly the rows a full rescan would: the
    * dir's own row (child churn bumps its mtime) and its subtree, or
    * nothing — a scope-wide deletion — when the dir vanished or a full
    * scan would prune it (skip-matched, hidden, or under a symlink; a
    * symlink scope itself is its own file row). Also patches the stored dirSizes rollup
    * with the scope's signed change feed when its corpus token is
    * current. Returns the number of entries refreshed. Fold the log
    * with [[checkpointScoped]]; any later full [[run]] supersedes the
    * log by scan-is-truth.
    */
  def runScoped(spark: SparkSession, changedDirs: Seq[String]): Long = {
    val idx = store()
    require(idx.currentId.isDefined,
      "runScoped: no base snapshot — run a full scan first")
    val baseCols = idx.read(spark).get.columns.toSeq
    val dirs0 = changedDirs.map(_.stripPrefix("/").stripSuffix("/"))
    dirs0.foreach(d => require(d.nonEmpty,
      "runScoped: a root-wide event is a full rescan — use run()"))
    // subsume nested scopes: refreshing `a` walks the whole subtree,
    // so a second event for `a/b` is covered (and processing it
    // separately would double-count its rollup delta against the
    // shared pre-state below). Outermost distinct dirs only.
    val dirs = dirs0.distinct.filterNot(d =>
      dirs0.exists(o => o != d && d.startsWith(o + "/")))
    // an event-driven caller's debounced batch can drain to empty —
    // nothing changed, so nothing to refresh (and the shared pre-state
    // predicate below is a reduce over `dirs`, which must not be built
    // over an empty scope)
    if (dirs.isEmpty) return 0L
    // ONE shared pre-state for the whole call (one corpus-wide resolve,
    // never one per dir): the surviving dirs are
    // pairwise key-disjoint, so refreshing one never moves another's
    // pre-rows — each iteration just filters its slice out of this
    // frame. Only needed when the rollup can be patched incrementally
    // (`foldable` is loop-invariant: an incremental patch re-stamps
    // the token current, a skipped patch leaves it stale).
    val foldable = rollupCurrent(idx)
    val preAll: Option[DataFrame] =
      if (!foldable) None
      else Some(idx.readMor(spark, "relative_path", "modified_time").get
        .filter(dirs.map(Indexer.inScope(col("relative_path"), _))
          .reduce(_ || _))
        .localCheckpoint(true))
    dirs.map { d =>
      // the root walk with the scope pushed in: only the path down to
      // d and d's subtree are visited, under every full-scan rule
      val entries = normalize(FsListing.list(spark, cfg.rootPath,
          cfg.skipPatterns, cfg.includeHidden)
          .filter(Indexer.inScope(col("filepath"), "/" + d)))
        .select(baseCols.map(col): _*)
        .localCheckpoint(true) // walk the subtree once, not per write
      // rollup maintenance anchor: this dir's slice of the SHARED
      // pre-refresh scope frame (one resolve per call, not per dir —
      // valid because surviving dirs are key-disjoint)
      val prevScope = preAll.map(
        _.filter(Indexer.inScope(col("relative_path"), d)))
      idx.refreshScopeMor(spark, entries,
        Indexer.inScope(col("relative_path"), d),
        "relative_path", "modified_time")
      // patch the stored dirSizes with the scope's signed change feed
      // — O(|scope| × depth); a stale/absent rollup stays stale (the
      // next publish recomputes it) rather than paying a full corpus
      // rescan inside the event-driven path
      prevScope.foreach { prev =>
        val rs = rollupStore()
        rs.write(graft.operators.FsOps.dirRollupFoldAgg(
            rs.read(spark).get,
            graft.operators.FsOps.rollupDeltaAgg(
              Indexer.signedFileChanges(prev, entries)))
          .filter(col("sz") =!= 0L || col("fc") =!= 0L))
        writeToken(rollupTokenPath, Indexer.corpusToken(idx))
      }
      entries.count()
    }.sum
  }

  /** INCREMENTAL ES publish — the run mode a 100 TB deployment uses
    * between full republishes: refresh only the changed subtrees
    * through the store's MOR log ([[runScoped]]), patch the stored
    * dirSizes rollup with the scope's signed change feed, then send
    * ONLY the delta to Elasticsearch — the scope's current entries,
    * every directory (inside the scope or above it) whose rolled
    * total changed, and deletes for vanished scope keys. Publish cost
    * is ∝ |scope| + |touched ancestors|, never the corpus; the
    * resulting ES state is bit-identical (mod `last_seen`, scan-time
    * by contract) to a full republish — IndexerSpec pins it over a
    * delete+resize+add scenario.
    *
    * USAGE CONTRACT, ENFORCED (the equality's fine print): "≡ full
    * republish" holds only from a store state ES has already seen in
    * full — a bare [[runScoped]] interlude mutates the store without
    * sending its scope docs or touched-ancestor totals, and a scoped
    * publish on top would leave ES silently stale for those scopes
    * forever. The ES-published WATERMARK ([[esWatermarkPath]]) makes
    * that drift impossible to miss: this method REFUSES when the store
    * is ahead of the watermark, and [[publishCatchUp]] repairs the gap
    * with traffic ∝ the unpublished churn (replayed from the MOR log
    * suffix). Cost when used correctly is unchanged: the delta is ∝
    * the scope either way.
    *
    * Past the gate this IS [[runScoped]] then [[publishCatchUp]]: from
    * a published state, the log suffix the refresh appends — each
    * scope's delete sidecar plus its scan — names exactly the scope's
    * keys, so the catch-up's watermark-prefix rows are the scope's
    * pre-refresh rows and its post-state rows are the scope's rows.
    * The delta goes out through the full run's own `publish`.
    */
  def publishScoped(spark: SparkSession,
      changedDirs: Seq[String]): RunReport = {
    val t0 = System.nanoTime()
    require(cfg.mode == "elasticsearch" && transport.isDefined,
      "publishScoped: elasticsearch mode with a transport required")
    val idx = store()
    require(idx.currentId.isDefined,
      "publishScoped: no base snapshot — run a full scan first")
    // watermark gate (see [[esWatermarkPath]]): a scoped publish only
    // sends ITS transition's delta, so it is correct only from a store
    // state ES has already seen in full — refuse otherwise, pointing
    // at the repair, instead of leaving ES silently stale forever
    val pre = Indexer.corpusToken(idx)
    val wm = readToken(esWatermarkPath)
    require(wm.contains(pre),
      s"publishScoped: ES watermark ${wm.getOrElse("(none)")} != " +
        s"store state $pre — the store moved without a publish (bare " +
        "runScoped interlude, a failed publish, or ES never saw a " +
        "full publish); run publishCatchUp() (or a full run()) first")
    runScoped(spark, changedDirs)
    catchUp(spark, t0)
  }

  /** Re-sync ES with the store after transitions that were never
    * published — the repair for the drift [[publishScoped]]'s
    * watermark gate refuses to paper over: bare [[runScoped]]
    * interludes (index-without-publish) and crashed/rejected publishes.
    * Works from the MOR log itself: the entries appended since the
    * watermark name exactly the touched keys, so traffic is ∝ the
    * unpublished churn (docs for keys that changed, deletes for keys
    * that vanished, re-publishes for ancestors whose totals moved) —
    * never the corpus. No-op (zero ES traffic) when the watermark is
    * already current. The delta goes out through the full run's own
    * `publish` (links, dir sizes, bulk sends, watermark).
    *
    * Requires the watermarked state to live in the CURRENT base's log
    * prefix (token = baseId + log length). A fold between publishes is
    * fine — [[checkpointScoped]] migrates a matching watermark across
    * it — but a store whose base was rewritten without a publish (a
    * full index-only [[run]], manual surgery, or ES never published)
    * has no per-key churn record to replay; that needs one full
    * publish ([[run]] in elasticsearch mode).
    */
  def publishCatchUp(spark: SparkSession): RunReport =
    catchUp(spark, System.nanoTime())

  /** [[publishCatchUp]] with the report's clock started at `t0`: given
    * the watermarked rows of the keys the unpublished log suffix
    * touched and the same keys' current rows, send docs +
    * touched-ancestor directory rows, delete vanished keys, and advance
    * the ES watermark iff every send succeeded.
    */
  private def catchUp(spark: SparkSession, t0: Long): RunReport = {
    require(cfg.mode == "elasticsearch" && transport.isDefined,
      "publishCatchUp: elasticsearch mode with a transport required")
    val idx = store()
    require(idx.currentId.isDefined,
      "publishCatchUp: no base snapshot — run a full scan first")
    val cur = Indexer.corpusToken(idx)
    val wm = readToken(esWatermarkPath)
    if (wm.contains(cur))
      return RunReport(RunStats.Stats(0L, 0L, 0L,
        (System.nanoTime() - t0) / 1e9), 0L, 0L, 0L,
        idx.currentId.getOrElse(""), 0L)
    val baseId = idx.currentId.get
    val publishedLen = wm match {
      case Some(w) if w.startsWith(s"$baseId+") =>
        w.substring(baseId.length + 1).toIntOption.getOrElse(
          sys.error(s"publishCatchUp: unparseable watermark $w"))
      case other =>
        sys.error("publishCatchUp: the store base was rewritten since " +
          s"the last publish (watermark ${other.getOrElse("(none)")}, " +
          s"store $cur) — no per-key churn record to replay; run a " +
          "full elasticsearch-mode run() to re-sync")
    }
    val (toPublish, obs, after, removed) = step(spark, "catch-up delta") {
      // keys the unpublished log suffix touched, and with them their
      // ancestor directories, whose totals the churn may have moved —
      // every key the delta can publish, ∝ the churn
      val touched = idx.morTouchedKeys(spark, "relative_path",
        from = publishedLen).get.localCheckpoint(true)
      val scopeKeys = touched.unionByName(
        graft.operators.FsOps.ancestorExplode(touched.select(
            concat(lit("/"), col("relative_path")).as("filepath")), Nil)
          .select(Indexer.relativePath(col("directory_path"))))
      // their rows at the watermarked state (base + log prefix) and now,
      // each resolve shuffling only those keys' rows. An untouched key
      // has the same row in both, so it adds no change and is never a
      // removal
      val prevScope = idx.readMorPrefix(spark, "relative_path",
        "modified_time", batchWinsTies = false, upTo = publishedLen,
        only = Some(scopeKeys)).get.localCheckpoint(true)
      val curScope = idx.readMor(spark, "relative_path", "modified_time",
        only = Some(scopeKeys)).get.localCheckpoint(true)
      // the whole resolved store, lazily: only a stale-rollup recompute
      // reads it
      val after = idx.readMor(spark, "relative_path", "modified_time").get
      // directories whose totals moved: the ancestors of the signed
      // change feed — inside OR above the scope
      val movedDirs = graft.operators.FsOps.rollupDeltaAgg(
          Indexer.signedFileChanges(prevScope, curScope))
        .select(Indexer.relativePath(col("directory_path")),
          lit(false).as("__touched"))
      // the delta: the touched keys' rows and the moved directories'.
      // The observed counters ride it (A8 — one pass, collected when
      // the publish consumes the docs)
      val sent = touched.select(col("relative_path"),
          lit(true).as("__touched"))
        .unionByName(movedDirs)
      val (toPublish, obs) = RunStats.observed(
        curScope.join(sent, curScope("relative_path") ===
            sent("relative_path") &&
            (sent("__touched") || curScope("type") === "directory"),
          "left_semi").localCheckpoint(true),
        typeCol = "type")
      (toPublish, obs, after, Indexer.removedIds(prevScope, curScope))
    }
    // reconcile = false: toPublish is the delta, not the corpus — an
    // orphan reconcile against it would tombstone every link outside
    // the delta (the next full run reconciles against the corpus)
    val (indexed, failed, nLinks) = publish(spark, idx, transport.get,
      toPublish, after, Some(removed), reconcile = false)
    val elapsed = (System.nanoTime() - t0) / 1e9
    RunReport(RunStats.collect(obs, elapsed), indexed, failed, removed._2,
      idx.currentId.getOrElse(""), nLinks)
  }

  /** OPERATOR BOOTSTRAP for the ES-published watermark: a store last
    * published before the watermark existed — or one whose token was
    * deleted by hand — has no `_es_published`, so [[publishScoped]] refuses and
    * [[publishCatchUp]] demands a full republish even when ES is in
    * fact current. This stamps the CURRENT corpus token as published,
    * on the operator's authority alone (nothing is sent to or checked
    * against ES). Use ONLY when you know ES holds the store's resolved
    * view in full; if it does not, the scoped publishes this unblocks
    * will drift exactly the way the watermark exists to prevent.
    * Returns the stamped token.
    */
  def assertPublished(spark: SparkSession): String = {
    val idx = store()
    require(idx.currentId.isDefined,
      "assertPublished: no base snapshot — nothing to stamp")
    val t = Indexer.corpusToken(idx)
    writeToken(esWatermarkPath, t)
    t
  }

  /** Fold the scoped-run MOR log into a real snapshot (periodic, or
    * when read amplification accumulates). None = nothing to fold.
    * A fold changes the corpus token WITHOUT changing the resolved
    * view, so a current ES watermark is migrated across it — otherwise
    * the next publishScoped would demand a pointless catch-up.
    */
  def checkpointScoped(spark: SparkSession): Option[String] =
    migrateWatermark(spark) {
      store().checkpointMor(spark, "relative_path", "modified_time")
    }

  /** Ratio-triggered fold: compact the scoped-run MOR log only once
    * its bytes exceed `maxLogRatio` of the base snapshot's — bounded
    * read amplification with write still ∝ change rate
    * ([[graft.sinks.ParquetIndex.checkpointMorIfNeeded]]).
    */
  def checkpointScopedIfNeeded(spark: SparkSession,
      maxLogRatio: Double = 0.3): Option[String] =
    migrateWatermark(spark) {
      store().checkpointMorIfNeeded(spark, "relative_path",
        "modified_time", maxLogRatio = maxLogRatio)
    }

  /** Run `fold` (a resolved-view-preserving store rewrite) and, if the
    * ES watermark matched the pre-fold token, re-stamp it with the
    * post-fold token — the two tokens name the SAME published state.
    */
  private def migrateWatermark(spark: SparkSession)(
      fold: => Option[String]): Option[String] = {
    val preTok = Indexer.corpusToken(store())
    val matched = readToken(esWatermarkPath).contains(preTok)
    val r = fold
    if (r.isDefined && matched)
      writeToken(esWatermarkPath, Indexer.corpusToken(store()))
    r
  }

  /** Direct-link refresh of `entries`' files (when enabled and a fetch
    * client is wired — the reference's DirectLinkManager step,
    * main.py:190-192), then the links' aligned columns keyed file_id
    * (`dl`/`fse`/`act`/`amt`) as of after the refresh: the frame
    * [[LinkRefresh.refreshIndexMor]] returns, so the publish reads the
    * links from the refresh's own checkpointed pass instead of
    * resolving the store a second time. The links store lives beside
    * the files snapshots, like the reference's sibling direct_links DB
    * (main.py:124). MERGE-ON-READ: a refresh appends only its fetched
    * batch (+ orphan delete keys) to the store's log instead of
    * rewriting the snapshot — write cost ∝ stale set, not store size.
    * `reconcile` drops links of files missing from `entries`, so only a
    * caller passing the whole corpus may set it.
    * Returns (links fetched, aligned frame).
    */
  private def refreshedLinks(spark: SparkSession, entries: DataFrame,
      reconcile: Boolean): (Long, DataFrame) = {
    val linksIdx = new ParquetIndex(s"${cfg.indexRoot}/links",
      writeFiles = cfg.snapshotFiles)
    val (n, links) = (cfg.getDirectLinks, linkFetch) match {
      case (true, Some(fetch)) => step(spark, "link refresh") {
        LinkRefresh.refreshIndexMor(spark,
          entries.filter(col("type") === "file"), linksIdx, fetch,
          skipPatterns = cfg.skipPatterns, reconcile = reconcile)
      }
      case _ => (0L, LinkRefresh.align(
        LinkRefresh.readLinksMor(spark, linksIdx).getOrElse(
          LinkRefresh.emptyLinks(spark))))
    }
    (n, links.select(col("file_id"), col("direct_link").as("dl"),
      col("fsentry_id").as("fse"),
      col("api_creation_time").as("act"),
      col("api_modified_time").as("amt")))
  }

  /** The one ES publish, shared by the full [[run]] (`docs` = `corpus`
    * = the committed corpus) and the catch-up (`docs` = the delta,
    * `corpus` = the resolved store): ensure the index, refresh the
    * links of `docs`' files and settle the dir sizes, bulk-index `docs`
    * enriched with both, bulk-delete `removed` (ids, count), and
    * advance the ES watermark iff every send succeeded. `removed` is
    * by-name, so a reconcile still running in the caller overlaps the
    * link refresh, the rollup and the bulk index. `reconcile` drops
    * links of files missing from `docs` ([[refreshedLinks]]). Returns
    * (indexed, failed, links fetched).
    */
  private def publish(spark: SparkSession, idx: ParquetIndex,
      t: EsSink.Transport, docs: DataFrame, corpus: DataFrame,
      removed: => Option[(DataFrame, Long)],
      reconcile: Boolean): (Long, Long, Long) = {
    // create-before-bulk (elasticsearch_integration.py:27,30-41): a
    // fresh cluster gets the explicit mapping, incl. the
    // path_hierarchy analyzer — NOT dynamic mappings
    admin.foreach(a => EsAdmin.ensureIndex(a, cfg.esIndex))
    val sink = new EsSink(t, cfg.esBatchSize)
    // Link refresh and dir sizes touch disjoint stores, so their jobs
    // run concurrently from two driver threads (guide §2.6): each step's
    // straggler tail back-fills with the other's tasks; `step` labels
    // the thread-local description, Await rethrows the first failure.
    val linksF = Future { refreshedLinks(spark, docs, reconcile) }
    // the stored rollup while its token is current, else a recompute
    // over `corpus` — always in a full run, which commits a new base:
    // the explode's partial aggregate ships one row per directory per
    // task (2 jobs), where folding a full run's change feed would
    // shuffle a corpus-sized prev-vs-current diff ([[runScoped]] folds)
    val sizesF = Future {
      step(spark, "dirSizes rollup maintenance") {
        val rs = rollupStore()
        if (!rollupCurrent(idx)) {
          rs.write(graft.operators.FsOps.rollupOf(
            corpus.filter(col("type") === "file")
              .select(col("filepath"), col("size_bytes"))))
          writeToken(rollupTokenPath, Indexer.corpusToken(idx))
        }
        rs.read(spark).get.select(col("directory_path").as("dp"),
          col("sz").as("total_size"))
      }
    }
    val (nLinks, links) = Await.result(linksF, Duration.Inf)
    val sizes = Await.result(sizesF, Duration.Inf)
    val s = step(spark, "publish: bulk index") {
      sink.bulkIndex(buildDocs(docs, sizes, links), cfg.esIndex, "id")
    }
    // delete failures count toward the failed total — a rejected
    // deletion leaves a stale searchable document the next run's
    // anti-join will NOT retry, so it must be visible in the report
    val delFailed = removed.collect { case (ids, n) if n > 0 =>
      step(spark, "publish: bulk delete") {
        sink.bulkDelete(ids, cfg.esIndex, "id").failed
      }
    }.getOrElse(0L)
    // advance the watermark only on a zero-failure send: a rejected
    // batch keeps it behind so publishCatchUp re-sends (idempotent by id)
    if (s.failed + delFailed == 0L)
      writeToken(esWatermarkPath, Indexer.corpusToken(idx))
    (s.indexed, s.failed + delFailed, nLinks)
  }

  /** Label the jobs of one pipeline step (optimization guide §1.5 —
    * job descriptions are thread-local, so concurrent steps label
    * correctly); always restored so callers' own labels survive.
    */
  private def step[T](spark: SparkSession, name: String)(body: => T): T =
    graft.Bench.labelled(spark, s"indexer: $name")(body)

  def run(spark: SparkSession): RunReport = {
    val t0 = System.nanoTime()
    val listing = FsListing.list(spark, cfg.rootPath, cfg.skipPatterns,
      cfg.includeHidden)
    val (observedListing, obs) = RunStats.observed(listing)
    val entries = normalize(observedListing)

    // J1 merge + J6 reconcile, composed into ONE snapshot write: the new
    // scan is the truth for both updates and deletions (reference scan
    // loop + cleanup), and both are pure functions of (previous, entries)
    // — Merge.mergeReconcile keeps the per-key winner restricted to
    // scanned keys in a single key shuffle, so the run does one
    // full-index write instead of merge-write → read-back → semi-join
    // write (at 100 TB that write is the dominant cost; this halves it).
    val idx = store()
    // Upgrade path: a snapshot written before path-partitioning lacks
    // the p0 column — derive it so the merge schemas line up and the
    // NEXT write migrates the store to the partitioned layout.
    // readMor (not read): a pending event-driven log folds into this
    // full-rescan merge — its tie-kept metadata (last_seen) survives —
    // and the write then consumes the log (scan is truth).
    val previous = idx.readMor(spark, "relative_path",
      "modified_time").map { prev =>
      if (prev.columns.contains(ParquetIndex.PathPartitionCol)) prev
      else prev.withColumn(ParquetIndex.PathPartitionCol,
        ParquetIndex.pathPartitionExpr(col("relative_path")))
    }
    // batchWinsTies = false is the REFERENCE's own tie rule
    // (scanner.py:232-244: ON CONFLICT DO UPDATE ... WHERE
    // excluded.modified_time > files.modified_time — an unchanged file
    // keeps its stored row, including last_seen).
    // writeKeepingLog, not write: `previous` (a readMor over the old
    // base + its pending event-driven log) is ALSO the input of the
    // deletion anti-join below, which runs after the write, so the
    // consumed log's files must outlive it; the sweep runs at the end
    // of this method.
    val snapId = step(spark, "scan + merge + snapshot write") {
      idx.writeKeepingLog(previous match {
        case None => entries
        case Some(prev) =>
          Merge.mergeReconcile(prev, entries, "relative_path",
            "modified_time")
      })
    }
    // everything downstream reads the committed snapshot, so the write
    // above is the run's one and only walk of the tree
    val current = idx.read(spark).get
    // Deletion set AFTER the write: the snapshot's key set is exactly
    // the scan's (mergeReconcile keeps only scanned keys). keep=2 retention guarantees the previous
    // snapshot's files still exist here; localCheckpoint cuts the lazy
    // plan's lineage before they are eventually pruned (deltas are
    // small; cheap even at scale).
    // r17: launched as a THIRD concurrent leg (guide §2.6) — the
    // anti-join reads only (previous, current), disjoint from the link
    // refresh and rollup maintenance below, so its jobs back-fill
    // their straggler tails instead of running serially before them.
    // Awaited before anything consumes it (bulk delete / the report),
    // and before sweepConsumedLogs — the error contract is unchanged.
    val removedF: Future[Option[(DataFrame, Long)]] = Future {
      previous.map(prev =>
        step(spark, "deletion reconcile") {
          Indexer.removedIds(prev, current)
        })
    }

    // ES publish (elasticsearch mode): the whole committed corpus, its
    // deletions awaited only after the bulk index
    val (indexed, esFailed, linksRefreshed) = (cfg.mode, transport) match {
      case ("elasticsearch", Some(t)) =>
        publish(spark, idx, t, current, current,
          Await.result(removedF, Duration.Inf), reconcile = true)
      case _ => (0L, 0L, 0L) // index-only
    }

    // the await pins the deletion anti-join's execution BEFORE the log
    // sweep below (futures memoize, so the ES branch's earlier await
    // and this one see the same checkpointed frame and count)
    val removedCount = Await.result(removedF, Duration.Inf)
      .map(_._2).getOrElse(0L)
    // every frame derived from the pre-write resolve (the deletion
    // anti-join) has executed — the superseded MOR log is now safe to
    // drop (see writeKeepingLog above)
    idx.sweepConsumedLogs()
    val elapsed = (System.nanoTime() - t0) / 1e9
    RunReport(RunStats.collect(obs, elapsed), indexed, esFailed,
      removedCount, snapId, linksRefreshed)
  }
}

object Indexer {

  /** Identity of the files store's resolved corpus: base snapshot id +
    * merge-on-read log length. The stored dirSizes rollup records the
    * token it was computed against; any transition the maintainer did
    * not witness (manual store surgery, a crash between the files
    * write and the rollup fold) shows up as a mismatch and forces a
    * from-scratch recompute instead of a silent wrong fold.
    */
  private[pipeline] def corpusToken(idx: ParquetIndex): String =
    idx.currentId
      .map(id => s"$id+${idx.morEntries(id).length}")
      .getOrElse("empty")

  /** Ids of the keys in `prev` that `cur` no longer holds (the
    * anti-join on `relative_path`), checkpointed — the deletions a
    * publish sends. Their count rides the checkpoint job as an
    * observation, so no separate count action runs. Returns (ids,
    * count).
    */
  private[pipeline] def removedIds(prev: DataFrame,
      cur: DataFrame): (DataFrame, Long) = {
    val n = Observation()
    val ids = prev.join(cur.select("relative_path"), Seq("relative_path"),
        "left_anti").select("id")
      .observe(n, count(lit(1)).as("n"))
      .localCheckpoint(true)
    (ids, n.get("n").asInstanceOf[Long])
  }

  /** The rows a scoped event for `d` refreshes: d's OWN row (its mtime
    * moves with child churn; it may also be a file or a symlink) and
    * everything below it — never a sibling that merely shares a name
    * prefix (`a/b` vs `a/bc`).
    */
  private[pipeline] def inScope(path: Column, d: String): Column =
    path === d || path.startsWith(d + "/")

  /** The store key (`relative_path`) of a '/'-prefixed path
    * ([[normalize]]).
    */
  private def relativePath(filepath: Column): Column =
    substring(filepath, 2, Int.MaxValue).as("relative_path")

  /** The signed per-file change feed of a corpus transition — exactly
    * the merge's reconcile legs, derived with ONE explode-free
    * full-outer join: removed files (−size, −1), added files (+size,
    * +1), resized files (new−old, 0). Feeding this through
    * [[graft.operators.FsOps.rollupDeltaAgg]] patches a stored rollup
    * in O(|Δ| × depth) instead of re-exploding the corpus.
    */
  private[pipeline] def signedFileChanges(prev: DataFrame,
      cur: DataFrame): DataFrame = {
    val p = prev.filter(col("type") === "file")
      .select(col("filepath"), col("size_bytes").as("p_size"))
    val c = cur.filter(col("type") === "file")
      .select(col("filepath"), col("size_bytes").as("c_size"))
    p.join(c, Seq("filepath"), "full_outer")
      .select(col("filepath"),
        when(col("c_size").isNull, -col("p_size"))
          .when(col("p_size").isNull, col("c_size"))
          .otherwise(col("c_size") - col("p_size"))
          .cast("long").as("delta_size"),
        when(col("c_size").isNull, lit(-1L))
          .when(col("p_size").isNull, lit(1L))
          .otherwise(lit(0L)).as("delta_count"))
      .filter(col("delta_size") =!= 0L || col("delta_count") =!= 0L)
  }

  /** The z-ordered snapshot's two layout dimensions: a 64-way crc32
    * bucket of the relative path (a path point/prefix predicate maps
    * to one bucket value) and the modification time's epoch seconds (a
    * time window maps to an epoch span). Shared by the store config
    * and by callers deriving [[ParquetIndex.readPruned]] spans.
    */
  val zorderSnapshotExprs: Seq[String] = Seq(
    "pmod(crc32(relative_path), 64)",
    "unix_seconds(modified_time)")

  /** Driver-side bucket of one relative path under
    * [[zorderSnapshotExprs]]' first dimension (crc32 mod 64) — for
    * turning a point lookup into a `readPruned` span.
    */
  def pathBucket(relativePath: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(relativePath.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Math.floorMod(c.getValue, 64L)
  }

  /** Normalize a listing to the canonical FsEntry columns (P5/P6/F1) —
    * shared by the batch pipeline and continuous indexing. The id hashes
    * the '/'-prefixed relative path (= filepath), matching the
    * reference's _generate_file_id byte-for-byte (scanner.py:176-186
    * always restores the leading slash first).
    */
  def normalize(listing: DataFrame): DataFrame = listing.select(
    sha2(col("filepath"), 256).as("id"),
    col("name"),
    expr("substring(filepath, 2)").as("relative_path"),
    col("filepath"),
    when(col("entry_type") === "file", col("size_bytes")).as("size_bytes"),
    col("modified_time"),
    col("modified_time").as("creation_time"),
    col("entry_type").as("type"),
    // Path(name).suffix parity: dotfiles like '.bashrc' have no extension
    lower(regexp_extract(col("name"), ".\\.([^./]+)$", 1)).as("extension"),
    lit("").as("checksum"),
    lit("").as("direct_link"),
    current_timestamp().as("last_seen"),
    // snapshot partition column (hash bucket of the first path
    // segment) — the ART-index replacement: point/prefix queries prune
    // to one of ≤256 partition dirs; hashing keeps the dir count
    // bounded on wide trees and the dir names charset-safe
    ParquetIndex.pathPartitionExpr(expr("substring(filepath, 2)"))
      .as(ParquetIndex.PathPartitionCol))
}

/** CLI entry point: `graft.pipeline.IndexerCli <config.yaml|config.kv>
  * [key=value overrides...]` or `root_path=... index_root=...
  * [mode=index-only]` args directly. A `.yaml`/`.yml` config file is
  * parsed with the reference's nested key surface
  * ([[IndexerConfig.loadYaml]]); anything else as flat `key=value`.
  */
object IndexerCli {
  def main(args: Array[String]): Unit = {
    val cfg =
      if (args.nonEmpty && (args(0).endsWith(".yaml") ||
          args(0).endsWith(".yml")))
        IndexerConfig.loadYaml(
          java.nio.file.Files.readString(java.nio.file.Paths.get(args(0))),
          IndexerConfig.kvPairs(args.drop(1).toSeq))
      else {
        val lines =
          if (args.length == 1 && java.nio.file.Files.exists(
              java.nio.file.Paths.get(args(0))))
            java.nio.file.Files.readAllLines(java.nio.file.Paths.get(args(0)))
              .toArray(Array.empty[String]).toSeq
          else args.toSeq
        IndexerConfig.load(lines)
      }
    // this machine's cores (or the master SPARK_MASTER names), and as
    // many shuffle partitions
    val spark = graft.Bench.buildSession(
      Runtime.getRuntime.availableProcessors.toString,
      sys.env.get("SPARK_MASTER"))
    // ST4: graceful shutdown — stop cleanly on SIGTERM/SIGINT.
    sys.addShutdownHook { spark.stop() }
    val esUrl = sys.env.get("GRAFT_ES_URL")
    val transport = esUrl.map(u => EsSink.http(u))
    val admin = esUrl.map(u => EsAdmin.http(u))
    // No link-fetch client here: the direct-link API is an external
    // service behind the pluggable LinkRefresh.Fetch boundary — library
    // users wire their client via the Indexer constructor.
    val report = new Indexer(cfg, transport, admin).run(spark)
    println(report.stats.summary +
      s"; es indexed=${report.indexed} failed=${report.esFailed}" +
      s" removed=${report.removed} links=${report.linksRefreshed}" +
      s" snapshot=${report.snapshotId}")
    spark.stop()
  }
}
