package graft.sinks

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Merge

/** S9: the index store — the reference's embedded-DuckDB `files` table
  * (database/db_duckdb.py:104-268) re-expressed as snapshot-versioned
  * Parquet with an atomically-swapped pointer file.
  *
  * Plain Parquet has no ACID upsert, so each merge writes a NEW snapshot
  * directory and then swaps `CURRENT` via an atomic rename — readers
  * always see a complete snapshot (SURVEY.md §7.4 risk 1; matches the
  * reference's effectively-full-rescan model). Old snapshots are pruned
  * on swap, keeping the latest `keep`.
  *
  * Scale notes: a snapshot write is a normal distributed Parquet write
  * (partitionable by e.g. first path segment); the merge is [[Merge]]'s
  * single key shuffle; nothing is collected to the driver.
  *
  * DEPLOYMENT POSTURE, stated honestly: snapshot DATA I/O is all
  * Spark (any Hadoop filesystem), but this store's METADATA
  * transaction layer — the `CURRENT` pointer rename, `MANIFEST`,
  * MOR-log manifests, the `.COMMIT_LOCK` file lock, and hard-link
  * compaction — deliberately assumes a POSIX filesystem (java.nio
  * atomic move, `FileChannel.lock`, `createLink`). That is the
  * single-writer-metadata-host pattern (the lakehouse equivalent of
  * Delta's pre-S3-commit-service days): the driver/orchestrator owns
  * a small shared-POSIX (or NFS) metadata root while executors read
  * and write bulk data anywhere. A pure-HDFS/S3 port would swap the
  * rename for a conditional put / Hadoop `rename`, the `FileChannel`
  * lock for the [[graft.operators.GenMeta]] reservation-marker
  * protocol (already Hadoop-API, already OCC), and hard-link
  * compaction for copies — mechanical, but a semantic downgrade on
  * stores without atomic rename, which is why it is not silently
  * half-done here.
  */
/** @param partitionBy optional partition columns for each snapshot —
  *   the Spark replacement for the reference's ART indexes
  *   (db_duckdb.py:175-177): point/prefix queries prune to matching
  *   partition directories, and parquet min/max stats prune within them
  *   (SURVEY.md §4.1).
  * @param writeFiles if > 0, coalesce each snapshot to this many files —
  *   the small-index setting (a 20k-row snapshot as 32 task-sized
  *   shards costs more in file overhead than it wins in parallelism;
  *   the reference writes ONE DuckDB file). Leave 0 at cluster scale so
  *   the write keeps its distributed width.
  * @param sortWithin columns to sort by WITHIN each write task before
  *   the snapshot lands — the layout knob that makes parquet row-group
  *   min/max stats selective on those columns (point/prefix lookups
  *   skip row groups, not just partition dirs). Costs one in-task sort
  *   at write time, nothing at read time. For multi-dimensional
  *   predicates, pass a single `zorder2(a, b)`-derived column instead
  *   of two raw ones.
  * @param zorderExprs OPTIONAL two-dimensional layout (the Delta
  *   `OPTIMIZE ZORDER BY` shape): exactly two SQL expressions over the
  *   snapshot's columns (each castable to long, e.g.
  *   `pmod(crc32(relative_path), 64)` and
  *   `unix_seconds(modified_time)`). Every snapshot write then
  *   range-partitions + sorts on the interleaved [[ZOrderLayout]]
  *   Morton key and materializes a per-file min/max `_manifest` of
  *   BOTH expressions inside the snapshot dir (it swaps atomically
  *   with the pointer), so [[readPruned]] opens only the files whose
  *   span overlaps a path+time predicate — the time-windowed queries'
  *   layout (`fs_growth_timeline` / `fs_removed_last_cleanup` shapes)
  *   without giving up path selectivity. Mutually exclusive with
  *   `partitionBy` (the layouts would fight over file placement).
  */
final class ParquetIndex(root: String, keep: Int = 2,
    partitionBy: Seq[String] = Nil, writeFiles: Int = 0,
    sortWithin: Seq[String] = Nil, zorderExprs: Seq[String] = Nil) {

  require(zorderExprs.isEmpty ||
    (zorderExprs.size == 2 && partitionBy.isEmpty),
    "zorderExprs: exactly two expressions, and no partitionBy")

  private val pointer = Paths.get(root, "CURRENT")
  private val manifest = Paths.get(root, "MANIFEST")
  private val SchemaFile = "_SCHEMA.ddl"

  def currentId: Option[String] =
    if (Files.exists(pointer)) Some(Files.readString(pointer).trim) else None

  /** Snapshot ids that completed a pointer swap, oldest first. Pruning
    * only ever considers these — a dangling dir from a failed write can
    * never displace a known-good snapshot from the keep window.
    */
  private def committedIds: Seq[String] =
    if (Files.exists(manifest))
      Files.readString(manifest).split("\n").toSeq
        .map(_.trim).filter(_.nonEmpty)
    else Nil

  def read(spark: SparkSession): Option[DataFrame] =
    currentId.map(readSnapshot(spark, _))

  /** Committed snapshot ids still on disk, oldest first — the time-travel
    * window (bounded by `keep`, same retention model as a lakehouse
    * table's vacuum horizon).
    */
  def history: Seq[String] = committedIds

  /** Time travel: read a specific committed snapshot. Returns None for
    * ids outside the retention window (pruned or never committed) —
    * never a dangling-directory read.
    */
  def readAsOf(spark: SparkSession, id: String): Option[DataFrame] =
    if (committedIds.contains(id)) Some(readSnapshot(spark, id)) else None

  private def readSnapshot(spark: SparkSession, id: String): DataFrame = {
      // Read with the schema persisted at write time: makes an EMPTY
      // partitioned snapshot readable (a partitioned write of zero rows
      // leaves no parquet files to infer from) and pins partition-column
      // types (directory-name inference would flip a numeric path
      // segment to int and break the next merge's schema).
      val ddl = Paths.get(root, s"snap-$id", SchemaFile)
      val reader =
        if (Files.exists(ddl))
          spark.read.schema(
            org.apache.spark.sql.types.StructType.fromDDL(
              Files.readString(ddl)))
        else spark.read
      val df = reader.parquet(s"$root/snap-$id")
      import org.apache.spark.sql.functions.col
      // pre-SchemaFile snapshots: pin partition columns to string —
      // but only columns the legacy snapshot actually has (an older,
      // unpartitioned snapshot read by a now-partitioned index must
      // come back as-is, for the caller to migrate)
      if (Files.exists(ddl)) df
      else partitionBy.filter(df.columns.contains).foldLeft(df)((d, c) =>
        d.withColumn(c, col(c).cast("string")))
  }

  /** Change feed (CDC) between two committed snapshots: one row per key
    * that was `added`, `updated` (any non-key column differs), or
    * `removed`, carrying the NEW row for added/updated and the OLD row
    * for removed. This is what an incremental consumer (delta ES
    * publish, downstream sync) reads instead of re-scanning the full
    * index: one full-outer key join — a single co-partitioned shuffle,
    * no driver-side state, same plan shape at any index size.
    *
    * PRECONDITION: `keyCol` must be unique per snapshot — the store's
    * own invariant (every write path goes through the J1/J2 merge,
    * which window-dedups on the key). A snapshot written with duplicate
    * keys would fan out m×n joined rows per key, each classified
    * independently. Null keys are excluded on both sides (a null never
    * joins to itself in a full-outer join, so an unchanged null-key row
    * would surface as a phantom added+removed pair).
    */
  /** @param includeOld when true, append an `old` struct column holding
    *   the PREVIOUS row (null for added) — what an incremental-aggregate
    *   consumer ([[graft.operators.IncrementalView]]) needs to retract an
    *   updated row's old contribution. Default off: the payload-only
    *   shape existing consumers bind to.
    */
  def changeFeed(spark: SparkSession, fromId: String, toId: String,
      keyCol: String, includeOld: Boolean = false): Option[DataFrame] =
    (readAsOf(spark, fromId), readAsOf(spark, toId)) match {
      case (Some(prev), Some(cur)) =>
        import org.apache.spark.sql.functions.{col, struct, when, lit}
        // columns BOTH snapshots carry: the retention window may span a
        // schema migration (e.g. a pre-partitioning snapshot without the
        // bucket column next to a post-migration one) — the feed compares
        // the shared surface instead of throwing on the missing column
        val cols = cur.columns.toSeq.filter(prev.columns.contains)
        require(cols.contains(keyCol),
          s"changeFeed: key '$keyCol' missing from one snapshot")
        val p = prev.filter(col(keyCol).isNotNull).select(col(keyCol),
          struct(cols.filterNot(_ == keyCol).map(col): _*).as("_old"))
        val c = cur.filter(col(keyCol).isNotNull).select(col(keyCol),
          struct(cols.filterNot(_ == keyCol).map(col): _*).as("_new"))
        val joined = c.join(p, Seq(keyCol), "full_outer")
        val changed = joined.withColumn("change_type",
          when(col("_old").isNull, lit("added"))
            .when(col("_new").isNull, lit("removed"))
            .when(!(col("_new") <=> col("_old")), lit("updated")))
          .filter(col("change_type").isNotNull)
        val payload = cols.filterNot(_ == keyCol).map(f =>
          when(col("change_type") === "removed", col(s"_old.$f"))
            .otherwise(col(s"_new.$f")).as(f))
        val tail =
          if (includeOld) Seq(col("change_type"), col("_old").as("old"))
          else Seq(col("change_type"))
        Some(changed.select(
          Seq(col(keyCol)) ++ payload ++ tail: _*))
      case _ => None
    }

  private def newId(): String =
    java.util.UUID.randomUUID().toString.take(8) +
      "-" + System.currentTimeMillis()

  /** Swap `CURRENT` to `id` atomically and prune the retention window.
    * The snapshot directory must be fully written before this is called —
    * a crash before commit leaves only a dangling dir that pruning never
    * confuses with a committed snapshot. Every commit — OCC or not —
    * takes the per-root commit lock, so an unconditional [[write]] can
    * never interleave with [[writeIfCurrent]]'s check-then-swap (the
    * conditional writer would observe a base that is being replaced and
    * still win, silently dropping the unconditional writer's commit).
    */
  private def commit(id: String): String =
    withCommitLock(commitUnlocked(id))

  private def commitUnlocked(id: String): String = {
    ParquetIndex.replaceFile(pointer, id)
    prune(committedIds :+ id)
    id
  }

  /** Write `df` as the new current snapshot; returns the snapshot id.
    *
    * LOG LIFECYCLE: committing a new base CONSUMES the previous base's
    * merge-on-read log — `df` is the new truth, so the log is either
    * already folded into it ([[checkpointMor]], [[upsert]]/
    * [[upsertReconcile]] resolve through [[readMor]]) or deliberately
    * superseded (a full-rescan write: scan is truth). The previous
    * log directory is deleted after the pointer swap, so a stale log
    * can never silently re-attach to a later base.
    */
  def write(df: DataFrame): String = {
    val committed = writeKeepingLog(df)
    // after the swap: the plan that produced df has fully executed, so
    // dropping consumed logs can't pull files out from under it
    sweepConsumedLogs()
    committed
  }

  /** [[write]] MINUS the consumed-log sweep — for a caller (the full
    * pipeline run) that still holds OTHER lazy frames over the
    * pre-write `readMor` resolve: the deletion anti-join executes
    * after the commit, and a sweep here would delete the old base's
    * log files
    * out from under them (FAILED_READ_FILE mid-run after a scoped
    * publish — IndexerSpec pins the sequence). The caller must
    * [[sweepConsumedLogs]] once those frames have executed; a crash
    * before that leaves an orphan log dir, removed by the next sweep
    * (every plain [[write]] sweeps).
    */
  def writeKeepingLog(df: DataFrame): String = {
    val id = writeSnapshotDir(df)
    commit(id)
  }

  /** Delete every MOR log dir NOT keyed to the current base — consumed
    * logs (the committed base superseded or folded them) and crash
    * orphans alike. Readers resolve the log strictly by current base
    * id ([[morRoot]]), so a non-current log dir is unreachable garbage
    * by construction.
    */
  def sweepConsumedLogs(): Unit = {
    val cur = currentId
    val rootP = Paths.get(root)
    if (Files.isDirectory(rootP)) {
      val s = Files.list(rootP)
      try s.iterator().asScala.toList
        .filter(_.getFileName.toString.startsWith("mor-"))
        .filterNot(p =>
          cur.contains(p.getFileName.toString.stripPrefix("mor-")))
        .foreach(deleteRec)
      finally s.close()
    }
  }

  /** Write `df`'s snapshot DIRECTORY (data + schema sidecar +
    * z-manifest) WITHOUT committing — the first half of [[write]],
    * split out so [[writeIfCurrent]] can make the commit conditional.
    * An uncommitted dir is exactly the crash-before-commit state the
    * pruner already ignores.
    */
  private def writeSnapshotDir(df: DataFrame): String = {
    val id = newId()
    import org.apache.spark.sql.functions.col
    // partitioned + bounded-width: repartition BY the partition columns
    // (not coalesce) so every partition directory is written by exactly
    // one task = one file per directory, instead of writeFiles × dirs
    // small files
    val shaped =
      if (partitionBy.nonEmpty && writeFiles > 0)
        df.repartition(writeFiles, partitionBy.map(col): _*)
      else if (writeFiles > 0) df.coalesce(writeFiles)
      else df
    // partition columns FIRST: the dynamic-partition writer requires an
    // ordering on them and would otherwise insert its own Sort(p0) above
    // this one (letting EliminateSorts drop the inner key sort) — one
    // combined sort satisfies the writer AND lays rows out by the key
    val out =
      // localCheckpoint first: the z bounds agg is a full action on the
      // upstream plan, and the parquet write re-executes it — for a
      // pipeline snapshot that plan is the filesystem walk + merge,
      // which must not run twice (nor observe two different tree states)
      if (zorderExprs.nonEmpty)
        ZOrderLayout.shaped(df.localCheckpoint(true), zDims(0)._2,
          zDims(1)._2, writeFiles)
      else if (sortWithin.nonEmpty)
        shaped.sortWithinPartitions(
          (partitionBy ++ sortWithin).distinct.map(col): _*)
      else shaped
    val w = out.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(s"$root/snap-$id")
    // schema sidecar ('_'-prefixed → invisible to parquet readers):
    // the read-side contract for empty snapshots + partition types
    Files.writeString(Paths.get(root, s"snap-$id", SchemaFile),
      df.schema.toDDL)
    if (zorderExprs.nonEmpty)
      ZOrderLayout.writeManifest(df.sparkSession, s"$root/snap-$id", zDims)
    id
  }

  /** OPTIMISTIC-CONCURRENCY commit — the lost-update guard two
    * concurrent writers need (the Delta/Iceberg conditional-commit
    * contract on this store's pointer layout): write `df`'s snapshot
    * dir unconditionally (the expensive, lock-free part), then swap
    * the pointer ONLY IF the base the writer derived `df` from is
    * still current. A stale writer gets `None` back — its dir is
    * removed, the pointer and manifest are untouched — and retries by
    * re-reading the new current and re-deriving. The check+swap holds
    * a per-root commit lock (a JVM monitor nested inside an OS file
    * lock, so both same-JVM threads and separate processes serialize);
    * data writes never hold it, so the lock is held for microseconds
    * regardless of snapshot size. `expectedBase = None` means "I
    * expect to create the first snapshot".
    */
  def writeIfCurrent(df: DataFrame,
      expectedBase: Option[String]): Option[String] = {
    val id = writeSnapshotDir(df)
    val won = withCommitLock {
      if (currentId == expectedBase) {
        try { commitUnlocked(id): Unit }
        catch {
          case scala.util.control.NonFatal(e) =>
            // the pointer move is the commit point; a failure AFTER it
            // (commitUnlocked's prune of expired snapshots) must not
            // mask a durable commit as a lost race — callers like
            // commitWithRetry would re-derive against the committed
            // state and apply a non-idempotent derive twice
            if (!currentId.contains(id)) throw e
        }
        true
      } else false
    }
    if (!won) {
      deleteRec(Paths.get(root, s"snap-$id"))
      None
    } else {
      // post-commit cleanup only: the old base's consumed MOR log is
      // orphan garbage once the pointer moved — an IO failure here
      // leaks a directory (re-deletable by the next sweep), never the
      // commit
      try sweepConsumedLogs()
      catch { case scala.util.control.NonFatal(_) => () }
      Some(id)
    }
  }

  /** The retrying read-merge-commit loop over [[writeIfCurrent]]:
    * `derive` maps the current resolved view (None before the first
    * snapshot) to the next snapshot's frame; on a lost race the loop
    * re-reads and re-derives against the winner's state, so no
    * writer's update is ever silently dropped. Returns the committed
    * id and the number of attempts it took.
    *
    * The derived plan is LAZY: it executes inside [[writeIfCurrent]],
    * and by then a winning concurrent commit may already have deleted
    * the base's MOR log ([[write]]/[[writeIfCurrent]] consume it) or
    * pruned the base's snapshot dir past the retention window — the
    * loser's scan then throws (FileNotFound and friends) instead of
    * returning `None`. That is still just a lost race: if the base
    * moved underneath us, swallow the failure and re-derive against
    * the winner; only a failure with the base UNCHANGED is a real
    * error and propagates.
    */
  def commitWithRetry(spark: SparkSession, keyCol: String, tsCol: String,
      derive: Option[DataFrame] => DataFrame,
      maxAttempts: Int = 20): (String, Int) = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val base = currentId
      val attemptResult =
        try {
          val next = derive(readMor(spark, keyCol, tsCol))
          writeIfCurrent(next, base)
        } catch {
          case scala.util.control.NonFatal(e) =>
            // a winner may have deleted this base's inputs mid-scan;
            // re-check AFTER the failure — base unchanged means the
            // inputs were not pulled out from under us, so rethrow
            if (currentId == base) throw e
            None // lost race: loop re-reads the winner's state
        }
      attemptResult match {
        case Some(id) => return (id, attempt)
        case None => // raced: re-derive against the new current
      }
    }
    sys.error(s"commitWithRetry: lost $maxAttempts straight races")
  }

  private def withCommitLock[A](body: => A): A =
    // normalized key: two handles on one store via different path
    // spellings ("/s" vs "/s/" vs relative) must share the monitor, or
    // they'd meet at the OS FileLock and die on
    // OverlappingFileLockException instead of serializing
    ParquetIndex.jvmLock(
      Paths.get(root).toAbsolutePath.normalize.toString).synchronized {
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(root, ".COMMIT_LOCK"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try { val l = ch.lock(); try body finally l.release() }
      finally ch.close()
    }

  /** The z-order layout dimensions, named as in the `_manifest`. */
  private def zDims: Seq[(String, org.apache.spark.sql.Column)] =
    zorderExprs.zipWithIndex.map { case (e, i) =>
      s"z$i" -> org.apache.spark.sql.functions.expr(e)
    }

  /** FILE-pruned read of the current snapshot for a conjunctive range
    * predicate over the two z-order dimensions (`spans` aligns with
    * `zorderExprs`; a point predicate is `(v, v)`): only files whose
    * manifest span overlaps BOTH ranges are opened, and the exact row
    * predicate is re-applied on top (span overlap is necessary, not
    * sufficient). Row-identical to `read().filter(both ranges)`;
    * ZOrderIndexSpec pins that it opens strictly fewer files.
    */
  def readPruned(spark: SparkSession,
      spans: Seq[(Long, Long)]): Option[DataFrame] = {
    require(zorderExprs.size == 2, "readPruned: not a z-ordered store")
    require(spans.size == 2, "readPruned: need one span per dimension")
    currentId.map { cid =>
      // same discipline as reconcile(): the manifest prunes the BASE
      // only — serving it with a pending MOR log would silently miss
      // every logged upsert and resurrect logged deletes. Fold first.
      require(morEntries(cid).isEmpty,
        "readPruned: pending MOR log — checkpointMor() before pruned reads")
      val dir = s"$root/snap-$cid"
      ZOrderLayout.prunedRead(spark, dir, zDims, spans,
        Some(org.apache.spark.sql.types.StructType.fromDDL(
          Files.readString(Paths.get(dir, SchemaFile)))))
    }
  }

  /** Layout maintenance (the lakehouse OPTIMIZE / bin-packing step the
    * reference never needs because DuckDB is one file): every
    * incremental `upsert` rewrites the snapshot with the merge's task
    * width, so a long-running index accumulates partition directories
    * full of small parquet files — at 100 TB that is the difference
    * between a scan of 10^5 right-sized files and 10^7 open() calls.
    *
    * Rewrites ONLY fragmented layout, never row data:
    *   - unpartitioned snapshot: if it has more than `maxFilesPerDir`
    *     parquet files, rewrite it coalesced to
    *     ceil(bytes / targetFileBytes) files.
    *   - single string partition column (the pipeline's `p0` layout):
    *     directories with more than `maxFilesPerDir` files are re-read
    *     (partition-pruned scan) and rewritten right-sized — with a
    *     `sortWithin` layout key, range-split by bytes into sorted files
    *     over disjoint key ranges (same layout contract as [[write]],
    *     row-group pruning survives); without one, one file per
    *     directory, mirroring [[write]]'s own partitioned shape;
    *     healthy directories are HARD-LINKED into the new snapshot —
    *     zero read or write I/O for the already-compact majority, which
    *     is what makes maintenance affordable when 1% of partitions are
    *     fragmented. (An object-store deployment would register the
    *     existing objects in the new snapshot's manifest instead of
    *     linking; the local form models the same no-copy contract.)
    *   - multi-level or non-string partitioning: full rewrite, one file
    *     per directory (correct for any escaped/typed value without
    *     re-parsing directory names).
    *
    * Commits a NEW snapshot (same atomic pointer swap — readers of the
    * old snapshot are undisturbed, time travel spans the compaction, and
    * `changeFeed(before, after)` is empty because no row changed).
    * Returns None — no commit — when the layout is already healthy.
    */
  def compact(spark: SparkSession, maxFilesPerDir: Int = 4,
      targetFileBytes: Long = 128L << 20): Option[String] =
    currentId.flatMap { cid =>
      import org.apache.spark.sql.functions.col
      // A pending MOR log defers maintenance: compaction rewrites the
      // BASE only and has no (key, ts) knowledge to fold the log, and
      // committing a new base consumes the old one's log (see write) —
      // proceeding would silently drop un-checkpointed deltas. Fold
      // with checkpointMor first, then compact.
      // A z-ordered store never compacts: every write is already
      // range-bounded to `writeFiles` files, and a coalescing rewrite
      // would destroy the Morton layout its manifest pruning relies on.
      if (morEntries(cid).nonEmpty || zorderExprs.nonEmpty) None
      else compactBase(spark, cid, maxFilesPerDir, targetFileBytes)
    }

  private def compactBase(spark: SparkSession, cid: String,
      maxFilesPerDir: Int, targetFileBytes: Long): Option[String] = {
      import org.apache.spark.sql.functions.col
      val snapDir = Paths.get(root, s"snap-$cid")
      lazy val stringPart = partitionBy.size == 1 &&
        readSnapshot(spark, cid).schema.find(_.name == partitionBy.head)
          .exists(_.dataType ==
            org.apache.spark.sql.types.StringType)
      if (partitionBy.isEmpty) {
        val files = parquetFilesIn(snapDir)
        val bytes = files.map(Files.size).sum
        val target = math.max(1,
          math.ceil(bytes.toDouble / targetFileBytes).toInt)
        // healthy = within the file-count bound OR already at the
        // byte-sized width (a snapshot whose data genuinely needs more
        // than maxFilesPerDir files must not be rewritten every call)
        if (files.size <= math.max(maxFilesPerDir, target)) None
        else Some(write(readSnapshot(spark, cid).coalesce(target)))
      } else {
        val dirs = listPartitionDirs(snapDir)
        val frag = dirs.filter(d => parquetFilesIn(d).size > maxFilesPerDir)
        if (frag.isEmpty) None
        else if (!stringPart ||
            frag.exists(_.getFileName.toString
              .endsWith("__HIVE_DEFAULT_PARTITION__"))) {
          // generic fallback: full rewrite, one writer task per value
          Some(write(readSnapshot(spark, cid)
            .repartition(math.max(dirs.size, 1), partitionBy.map(col): _*)))
        } else {
          val id = newId()
          val dst = Paths.get(root, s"snap-$id")
          Files.createDirectories(dst)
          val ddl = snapDir.resolve(SchemaFile)
          if (Files.exists(ddl)) Files.copy(ddl, dst.resolve(SchemaFile))
          val fragSet = frag.toSet
          dirs.filterNot(fragSet).foreach { d =>
            val nd = Files.createDirectories(dst.resolve(d.getFileName))
            parquetFilesIn(d).foreach(f =>
              linkOrCopy(f, nd.resolve(f.getFileName)))
          }
          val pcol = partitionBy.head
          val vals = frag.map(d =>
            unescapePartitionValue(
              d.getFileName.toString.drop(pcol.length + 1)))
          val fragBytes = frag.flatMap(parquetFilesIn).map(Files.size).sum
          val nTasks = math.max(vals.size,
            math.ceil(fragBytes.toDouble / targetFileBytes).toInt)
          val layout = (partitionBy ++ sortWithin).distinct.map(col)
          val rewritten = readSnapshot(spark, cid)
            .filter(col(pcol).isin(vals: _*))
          // same layout contract as write(): sorted within each file on
          // the layout key. With a sort key, range-split on (value, key)
          // sized by bytes — a dir larger than targetFileBytes becomes
          // several files covering DISJOINT key ranges (row-group
          // min/max pruning survives compaction); a small dir stays one.
          val shaped =
            if (sortWithin.nonEmpty)
              rewritten.repartitionByRange(nTasks, layout: _*)
                .sortWithinPartitions(layout: _*)
            else rewritten.repartition(vals.size, col(pcol))
          shaped.write.mode("append").partitionBy(partitionBy: _*)
            .parquet(dst.toString)
          Some(commit(id))
        }
      }
    }

  /** Data parquet files of one directory (skips `_SUCCESS`, sidecars,
    * dotfiles and subdirectories).
    */
  private def parquetFilesIn(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".") &&
          n.endsWith(".parquet")
      }.toSeq
      finally s.close()
    }

  private def listPartitionDirs(
      snapDir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(snapDir)
    try s.iterator().asScala.filter(p =>
      Files.isDirectory(p) && p.getFileName.toString.contains('=')).toSeq
    finally s.close()
  }

  /** Hard-link `src` as `dst`; copy when the filesystem refuses links
    * (cross-device, or an FS without link support).
    */
  private def linkOrCopy(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit =
    try Files.createLink(dst, src): Unit
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING): Unit
    }

  /** Inverse of the writer's partition-value escaping (percent-encoded
    * bytes, e.g. `%2F` for '/'), enough for string-typed values.
    */
  private def unescapePartitionValue(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          s.substring(i + 1, i + 3).forall(h =>
            Character.digit(h, 16) >= 0)) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** J1/J2: merge a scan batch into the current snapshot. A pending
    * MOR log is resolved INTO the merge (same key/ts/tie rule), then
    * consumed by the write — mixing the two write paths loses nothing.
    *
    * BATCH CONTRACT (here, [[upsertReconcile]], [[appendDelta]]): the
    * batch must be key-unique on `keyCol` — a filesystem scan cannot
    * repeat a path, so every pipeline caller satisfies it for free. A
    * batch that may carry several versions of a key must be collapsed
    * first (see [[graft.operators.Merge]]'s `dedupSides` and the
    * `spark.graft.merge.validateUnique=true` debug guard); a duplicate
    * key slipped past the contract multiplies rows through the merge
    * join and corrupts the snapshot's key-uniqueness invariant.
    */
  def upsert(spark: SparkSession, batch: DataFrame, keyCol: String,
      tsCol: String, batchWinsTies: Boolean = false,
      evolveSchema: Boolean = false): String =
    readMor(spark, keyCol, tsCol, batchWinsTies) match {
      case None => write(batch)
      case Some(cur) =>
        write(Merge.merge(cur, batch, keyCol, tsCol, batchWinsTies,
          evolveSchema))
    }

  /** J1+J6/ST3 in one write: merge a FULL-rescan batch and drop keys the
    * scan no longer contains ([[Merge.mergeReconcile]] — single key
    * shuffle, single snapshot write). The per-run form of the pipeline
    * and of continuous indexing's every micro-batch.
    */
  def upsertReconcile(spark: SparkSession, scan: DataFrame, keyCol: String,
      tsCol: String, batchWinsTies: Boolean = false,
      evolveSchema: Boolean = false): String =
    readMor(spark, keyCol, tsCol, batchWinsTies) match {
      case None => write(scan)
      case Some(cur) =>
        write(Merge.mergeReconcile(cur, scan, keyCol, tsCol,
          batchWinsTies, evolveSchema))
    }

  /** J6/ST3: drop rows whose key vanished from the current scan; returns
    * the new snapshot id (left_semi keeps only still-present keys).
    * Refuses while a MOR log is pending: with no ts column there is no
    * way to resolve the log here — fold it first ([[checkpointMor]]).
    */
  def reconcile(spark: SparkSession, scanKeys: DataFrame,
      keyCol: String): Option[String] =
    read(spark).map { cur =>
      require(morEntries(currentId.get).isEmpty,
        "reconcile: pending merge-on-read log — checkpointMor first")
      import org.apache.spark.sql.functions.col
      // re-select the original column order (a USING join moves the key
      // column first, which would flip the stored schema between runs)
      write(cur.join(scanKeys.select(keyCol).distinct(), Seq(keyCol),
        "left_semi").select(cur.columns.map(col).toIndexedSeq: _*))
    }

  // ------------------------------------------------------------------ //
  // Merge-on-read (MOR): the lakehouse deferred-merge write path. The  //
  // copy-on-write paths above (upsert/upsertReconcile) rewrite the     //
  // FULL snapshot per run — correct, but at 100 TB the full-index      //
  // write dominates pipeline I/O even when a micro-batch touched 0.1%  //
  // of keys. MOR appends only the batch (plus key-only delete          //
  // sidecars) and defers the merge to read time; `checkpointMor` folds //
  // the log back into a real snapshot when read amplification has      //
  // accumulated. Write cost ∝ batch, read cost ∝ base + log — the      //
  // Delta/Iceberg trade, on this store's own atomic-pointer layout.    //
  //                                                                    //
  // Resolution is EXACTLY the sequential fold of [[Merge.merge]] +     //
  // key-reconcile over the log, proven equivalent in MorIndexSpec:     //
  //   aliveUpserts(key) = generations after the key's last delete      //
  //   winner(key)       = max_by(row, (ts, ±gen)) over aliveUpserts    //
  // (+gen = J2 batch-wins-ties, −gen = J1 existing-wins-ties; the      //
  // sequential pairwise merge keeps a running max of the same          //
  // ordering, so the global max is the same row.)                      //
  //                                                                    //
  // LOG LIFECYCLE INVARIANT: every new base commit consumes the        //
  // pending log. checkpointMor and upsert/upsertReconcile FOLD it      //
  // (they resolve through readMor before writing); a direct write()    //
  // SUPERSEDES it (full-rescan semantics: the written frame is the     //
  // truth); reconcile() refuses while a log is pending (it has no ts   //
  // to resolve with) and compact() defers (it rewrites layout only     //
  // and must not consume data). A log can therefore never silently    //
  // re-attach to, or be orphaned by, a later base.                     //
  // ------------------------------------------------------------------ //

  private def morRoot(baseId: String) = Paths.get(root, s"mor-$baseId")
  private def morManifest(baseId: String) =
    morRoot(baseId).resolve("DELTAS")

  /** Committed MOR log entries for `baseId`, in commit order:
    * (kind `u`|`d`, dir name).
    */
  def morEntries(baseId: String): Seq[(String, String)] =
    if (!Files.exists(morManifest(baseId))) Nil
    else Files.readString(morManifest(baseId)).split("\n").toSeq
      .map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(k, n) = l.split(":", 2); (k, n) }

  private def commitMorEntry(baseId: String, kind: String,
      name: String): Unit = {
    Files.createDirectories(morRoot(baseId))
    val lines = morEntries(baseId).map { case (k, n) => s"$k:$n" } :+
      s"$kind:$name"
    ParquetIndex.replaceFile(morManifest(baseId),
      lines.mkString("\n") + "\n")
  }

  private def writeMorDir(baseId: String, name: String,
      df: DataFrame): Unit = {
    val dir = morRoot(baseId).resolve(name)
    df.write.mode("overwrite").parquet(dir.toString)
    // schema sidecar, as for snapshots: an empty delta/delete dir must
    // still read back with its schema
    Files.writeString(dir.resolve(SchemaFile), df.schema.toDDL)
  }

  private def readMorDir(spark: SparkSession, baseId: String,
      name: String): DataFrame = {
    val dir = morRoot(baseId).resolve(name)
    spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
      Files.readString(dir.resolve(SchemaFile))))
      .parquet(dir.toString)
  }

  /** Append an upsert batch to the MOR log of the current base (write
    * cost ∝ batch). With no base yet, the batch BECOMES the base
    * snapshot. Returns the committed log entry (or new base id).
    *
    * `evolveSchema = true` is the explicit ADDITIVE-evolution contract
    * (the 100 TB way to add a column — no base rewrite): the batch may
    * carry new columns beyond the base's (never drop or retype one —
    * key/ts columns are base columns, so every delta still carries
    * them); [[readMor]] resolves over the union schema with rows
    * null-filled for columns their era didn't have, and the next
    * [[checkpointMor]] folds the evolved schema into the base.
    *
    * ROW-LEVEL LWW ACROSS ERAS, deliberately: a winner carries only
    * its own era's columns — if a plain-schema writer (a scoped
    * rescan, an old producer) re-updates a key after another delta
    * enriched it, the winner's enrichment columns read null. That IS
    * the resolution rule, not an accident (column-level backfill from
    * older generations would resurrect values their writer may have
    * meant to retract); producers that must preserve enrichment
    * re-enrich after refresh, or evolve their own batches. Before the
    * evolved schema is FOLDED into the base, plain-schema writers pass
    * the additive guard; after a fold the enriched columns are base
    * columns and plain writers fail fast instead (SchemaEvolutionSpec
    * pins both).
    */
  def appendDelta(spark: SparkSession, batch: DataFrame,
      evolveSchema: Boolean = false): String =
    currentId match {
      case None => write(batch)
      case Some(cid) =>
        val snap = readSnapshot(spark, cid)
        val cols = snap.columns.toSet
        if (evolveSchema) {
          val bTypes =
            batch.schema.fields.map(f => f.name -> f.dataType).toMap
          snap.schema.fields.foreach { f =>
            require(bTypes.contains(f.name),
              s"appendDelta: evolution is additive-only — batch is " +
                s"missing stored column ${f.name}")
            require(bTypes(f.name) == f.dataType,
              s"appendDelta: cannot retype ${f.name}: " +
                s"${f.dataType.simpleString} vs " +
                bTypes(f.name).simpleString)
          }
          // the same no-retype rule against EARLIER deltas' additions:
          // without this, two deltas adding the same column with
          // different types would both pass the base check and readMor
          // would fail later with an opaque union error — check here,
          // where the writer can act on it (the delta SchemaFiles are
          // local sidecars, so this costs a few file reads, no scans)
          morEntries(cid).collect { case ("u", name) =>
            org.apache.spark.sql.types.StructType.fromDDL(
              Files.readString(
                morRoot(cid).resolve(name).resolve(SchemaFile)))
          }.flatten.foreach { f =>
            bTypes.get(f.name).foreach(t => require(t == f.dataType,
              s"appendDelta: cannot retype ${f.name} added by an " +
                s"earlier delta: ${f.dataType.simpleString} vs " +
                t.simpleString))
          }
        } else require(batch.columns.toSet == cols,
          s"appendDelta: schema mismatch: ${batch.columns.toSeq.sorted}" +
            s" vs ${cols.toSeq.sorted}")
        val name = f"delta-${morEntries(cid).size}%05d"
        writeMorDir(cid, name, batch)
        commitMorEntry(cid, "u", name)
        name
    }

  /** Append a key-only delete sidecar (the MOR form of [[reconcile]]'s
    * key-vanished drops — or an explicit retention purge).
    */
  def appendDelete(spark: SparkSession, keys: DataFrame,
      keyCol: String): Option[String] =
    currentId.map { cid =>
      val name = f"delete-${morEntries(cid).size}%05d"
      writeMorDir(cid, name, keys.select(keyCol).distinct())
      commitMorEntry(cid, "d", name)
      name
    }

  /** Read the MOR view: base + log resolved to one row per live key.
    * Plan shape: map-only unions, one left-anti join against the
    * (tiny) delete keys, ONE key-shuffled aggregate for the winner —
    * independent of log length; log dirs are narrow appended parquet.
    */
  def readMor(spark: SparkSession, keyCol: String, tsCol: String,
      batchWinsTies: Boolean = false,
      only: Option[DataFrame] = None): Option[DataFrame] =
    readMorPrefix(spark, keyCol, tsCol, batchWinsTies, Int.MaxValue, only)

  /** Resolve the base + only the FIRST `upTo` log entries — the store's
    * resolved state as of an earlier corpus token over the SAME base
    * (token = baseId + log length, so a shorter log IS an earlier
    * state). The ES catch-up publish diffs this against the full
    * resolve to recover exactly the churn a skipped publish never
    * sent. Same plan shape as [[readMor]] (one winner aggregate).
    *
    * `only` (a frame with `keyCol`) resolves just those keys: it is
    * semi-joined into the base and log scans, below the winner
    * aggregate, so the resolve shuffles only their rows. (The optimizer
    * does not push a semi-join on the result that far: the projection
    * out of the winner struct stops it.)
    */
  def readMorPrefix(spark: SparkSession, keyCol: String, tsCol: String,
      batchWinsTies: Boolean, upTo: Int,
      only: Option[DataFrame] = None): Option[DataFrame] =
    currentId.map { cid =>
      import org.apache.spark.sql.functions._
      def scoped(df: DataFrame): DataFrame =
        only.fold(df)(k =>
          df.join(k.select(keyCol), Seq(keyCol), "left_semi"))
      val base = scoped(readSnapshot(spark, cid))
      val entries = morEntries(cid).take(upTo)
      if (entries.isEmpty) base
      else {
        val gens = entries.zipWithIndex
        val upFrames = (base, 0L) +: gens.collect {
          case (("u", name), i) =>
            (scoped(readMorDir(spark, cid, name)), (i + 1).toLong)
        }
        // resolve over the UNION schema: base columns in order, then
        // each delta's additions in first-seen order (additive
        // evolution — appendDelta guarantees no drop/retype, so a
        // name collision always agrees on type); rows null-fill the
        // columns their era didn't have
        val fields = scala.collection.mutable.LinkedHashMap(
          base.schema.fields.toIndexedSeq.map(f => f.name -> f.dataType): _*)
        upFrames.foreach { case (df, _) =>
          df.schema.fields.foreach(f =>
            if (!fields.contains(f.name)) fields += f.name -> f.dataType)
        }
        val cols = fields.keys.toSeq
        val ups = upFrames.map { case (df, gen) =>
          val have = df.columns.toSet
          df.select(cols.map(c =>
            if (have(c)) col(c)
            else lit(null).cast(fields(c)).as(c)): _*)
            .withColumn("__gen", lit(gen))
        }.reduce(_ unionByName _)
        val dels = gens.collect { case (("d", name), i) =>
          readMorDir(spark, cid, name)
            .select(col(keyCol).as("__dk"), lit((i + 1).toLong).as("__dgen"))
        }
        // an upsert is alive iff no delete of its key comes later in
        // the log
        val alive = dels.reduceOption(_ unionByName _) match {
          case None => ups
          case Some(d) => ups.join(d,
            col(keyCol) === col("__dk") && col("__dgen") > col("__gen"),
            "left_anti")
        }
        val tieOrd = if (batchWinsTies) col("__gen") else -col("__gen")
        alive.groupBy(col(keyCol).as("__k"))
          .agg(max_by(struct(cols.map(col): _*),
            struct(col(tsCol), tieOrd)).as("__w"))
          // the key comes from the GROUPING column, not the winner
          // struct: a key predicate (refreshScopeMor's scope filter, a
          // point lookup) then pushes BELOW the aggregate into the
          // base/log scans instead of filtering the whole resolved
          // index — the winner's key is the group key by definition
          .select(cols.map(c =>
            (if (c == keyCol) col("__k") else col(s"__w.$c"))
              .as(c)): _*)
      }
    }

  /** Distinct keys touched by log entries `[from, length)` — the
    * suffix a consumer (the ES catch-up publish) has not yet seen.
    * Upserts contribute their keys, delete sidecars theirs; cost ∝
    * the suffix, never the corpus. None with no base; an empty frame
    * (with the key column) when the suffix is empty.
    */
  def morTouchedKeys(spark: SparkSession, keyCol: String,
      from: Int): Option[DataFrame] =
    currentId.map { cid =>
      import org.apache.spark.sql.functions.col
      morEntries(cid).drop(math.max(0, from))
        .map { case (_, name) =>
          readMorDir(spark, cid, name).select(col(keyCol))
        }
        .reduceOption(_ unionByName _)
        .map(_.distinct())
        .getOrElse(readSnapshot(spark, cid).select(col(keyCol)).limit(0))
    }

  /** Partial-scope MOR reconcile — the event-driven incremental
    * indexing primitive the copy-on-write paths can't express cheaply:
    * rescan ONE scope (e.g. a single directory, the reference's S6
    * batch source) and reconcile only within it. Appends a delete
    * sidecar for scope keys the scan no longer contains, then the
    * scoped scan as a delta (delete first, so the scan's own rows are
    * the later generation and stay alive). Keys outside `scopeFilter`
    * are untouched. Write cost ∝ scope; a [[reconcile]] with the same
    * effect rewrites the full index.
    */
  def refreshScopeMor(spark: SparkSession, scan: DataFrame,
      scopeFilter: org.apache.spark.sql.Column, keyCol: String,
      tsCol: String, batchWinsTies: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.col
    val gone = readMor(spark, keyCol, tsCol, batchWinsTies)
      .getOrElse(sys.error("refreshScopeMor: no base snapshot"))
      .filter(scopeFilter)
      .select(keyCol)
      .join(scan.select(col(keyCol)), Seq(keyCol), "left_anti")
      // materialize BEFORE the log mutates: the plan reads the current
      // log dirs and must not observe its own append
      .localCheckpoint(true)
    appendDelete(spark, gone, keyCol): Unit
    appendDelta(spark, scan): Unit
  }

  /** Fold the MOR log into a new base snapshot (same atomic pointer
    * swap; old base + its log are dropped once the new base commits).
    * No-op (None) when there is no log to fold.
    */
  def checkpointMor(spark: SparkSession, keyCol: String, tsCol: String,
      batchWinsTies: Boolean = false): Option[String] =
    currentId.flatMap { cid =>
      if (morEntries(cid).isEmpty) None
      else readMor(spark, keyCol, tsCol, batchWinsTies).map(write)
      // write() consumes the old base's log after its commit
    }

  /** On-disk bytes of the current base snapshot's data dir (0 with no
    * base). File-size sums, not row counts: the compaction POLICY below
    * budgets read amplification, and what a reader actually re-merges
    * per query is bytes.
    */
  def baseBytes: Long =
    currentId.map(cid => dirBytes(Paths.get(root, s"snap-$cid")))
      .getOrElse(0L)

  /** On-disk bytes of the current base's MOR log (deltas + delete
    * sidecars; 0 with no base or no log).
    */
  def morLogBytes: Long =
    currentId.map(cid => dirBytes(morRoot(cid))).getOrElse(0L)

  private def dirBytes(p: java.nio.file.Path): Long =
    if (!Files.isDirectory(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** RATIO-TRIGGERED compaction policy — the lakehouse maintenance
    * loop's missing piece between [[appendDelta]] (write ∝ batch) and
    * [[checkpointMor]] (the mechanism): fold the log into a new base
    * exactly when the log's bytes exceed `maxLogRatio` of the base's,
    * so steady-state read amplification is bounded by `1 + maxLogRatio`
    * while append cost stays ∝ batch — a count-based trigger can't
    * promise either (N tiny deltas are harmless, one huge delta isn't).
    * Returns the new base id when it folded, None when the log is
    * within budget. MorPolicySpec drives a long stream run through it.
    */
  def checkpointMorIfNeeded(spark: SparkSession, keyCol: String,
      tsCol: String, batchWinsTies: Boolean = false,
      maxLogRatio: Double = 0.3): Option[String] =
    currentId.flatMap { cid =>
      if (morEntries(cid).isEmpty) None
      else if (morLogBytes <= maxLogRatio * math.max(baseBytes, 1L)) None
      else checkpointMor(spark, keyCol, tsCol, batchWinsTies)
    }

  /** `DESCRIBE DETAIL` for the store — the operational surface a
    * lakehouse table exposes, as a small DataFrame (one row per
    * committed snapshot in the retention window, oldest first): data
    * file count and bytes, the schema width it was WRITTEN with, and
    * for the current base its MOR log (entry count, bytes, and the
    * read-amplification estimate `1 + log/base` the ratio policy
    * bounds). Pure local metadata — file listings and the schema
    * sidecars; zero data scans, so it is safe to poll from a
    * maintenance loop at any store size.
    */
  def describe(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cur = currentId
    committedIds.map { id =>
      val dir = Paths.get(root, s"snap-$id")
      val files = {
        val s = Files.walk(dir)
        try s.iterator().asScala.count(p =>
          Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }
      val cols = {
        val ddl = dir.resolve(SchemaFile)
        if (Files.exists(ddl))
          org.apache.spark.sql.types.StructType
            .fromDDL(Files.readString(ddl)).size
        else -1
      }
      val isCur = cur.contains(id)
      val (logN, logB) =
        if (isCur) (morEntries(id).size, morLogBytes) else (0, 0L)
      val bytes = dirBytes(dir)
      val amp =
        if (isCur && bytes > 0)
          math.round((1.0 + logB.toDouble / bytes) * 10000) / 10000.0
        else 1.0
      (id, isCur, files.toLong, bytes, cols, logN.toLong, logB, amp)
    }.toDF("snapshot_id", "is_current", "data_files", "bytes",
      "schema_cols", "log_entries", "log_bytes", "read_amplification")
  }

  private def prune(committed: Seq[String]): Unit = {
    val (drop, kept) = committed.splitAt(math.max(0, committed.size - keep))
    drop.foreach(id => deleteRec(Paths.get(root, s"snap-$id")))
    drop.foreach(id => deleteRec(morRoot(id)))
    ParquetIndex.replaceFile(manifest, kept.mkString("\n") + "\n")
  }

  private def deleteRec(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(deleteRec) finally s.close()
    }
    Files.deleteIfExists(p): Unit
  }
}

object ParquetIndex {

  /** Per-root JVM commit monitors (nested inside the cross-process OS
    * file lock — FileLock alone throws OverlappingFileLockException for
    * two threads of ONE JVM, so same-JVM writers serialize here first).
    */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]
  private[sinks] def jvmLock(root: String): Object =
    jvmLocks.computeIfAbsent(root, _ => new Object)

  /** Replace the small file `p` with `text` atomically: write a sibling
    * temp file, then rename it over `p` (POSIX rename) — a reader, or a
    * crash at any point, sees the old content or the new, never none
    * and never a torn file.
    */
  private[graft] def replaceFile(p: java.nio.file.Path, text: String): Unit = {
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** The partition column the pipeline derives for path-partitioned
    * snapshots (SURVEY §4.1 — the replacement for the reference's ART
    * index on relative_path, db_duckdb.py:175-177): a HASH BUCKET of
    * the first `relative_path` segment — two sha256 hex chars, so at
    * most 256 partition directories no matter how many top-level
    * directories exist (raw segment values would explode the dir count
    * on wide trees AND break partitioned writes for segments the local
    * filesystem/JVM charset can't encode; hex is always safe).
    * Point/prefix queries still prune: the bucket of a prefix is
    * computable from the prefix alone (256× partition selectivity, then
    * parquet min/max stats within the bucket).
    */
  val PathPartitionCol = "p0"

  /** First path segment of a relative path (no leading slash). */
  def firstSegment(relativePath: String): String = {
    val i = relativePath.indexOf('/')
    if (i < 0) relativePath else relativePath.substring(0, i)
  }

  /** Bucket value for one segment — JVM mirror of [[pathPartitionExpr]]
    * (sha256 over UTF-8 bytes, first two lowercase hex chars).
    */
  def pathPartitionValue(segment: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(segment.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f"${d(0) & 0xff}%02x"
  }

  /** The bucket column expression over a `relative_path` column. */
  def pathPartitionExpr(
      relativePath: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{sha2, substring, substring_index}
    substring(sha2(substring_index(relativePath, "/", 1), 256), 1, 2)
  }

  /** Pruned point/prefix predicate over a path-partitioned snapshot:
    * the `p0` equality prunes to ONE partition directory (visible as
    * PartitionFilters in the explain — PlanAuditSpec pins this), the
    * prefix predicate then runs only over that directory's row groups.
    */
  def pathPrefixFilter(prefix: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    (col(PathPartitionCol) === lit(pathPartitionValue(firstSegment(prefix)))) &&
      (col("relative_path") === lit(prefix) ||
        col("relative_path").startsWith(prefix + "/"))
  }
}
