package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.DirCompaction

/** Shared DELETE/UPSERT lifecycle for the durable serving stores
  * ([[TermIndex]], [[AnnIndex]], [[NearDupIndex]]) — the in-engine
  * mirror of the reference's search-sink delete semantics
  * (elasticsearch_integration.py:453-566, bulk delete by id): a delete
  * APPENDS tombstone ids (cheap — no store rewrite), every serving
  * read SUBTRACTS them, and the next [[fold]] (compaction) rewrites
  * the store without the tombstoned rows and [[clear]]s the tombstone
  * set — the hide-then-remove lifecycle merge-on-read deletes use
  * ([[graft.sinks.ParquetIndex]]'s MOR fold pattern, applied to the
  * pointer-less index stores).
  *
  * GENERATION THRESHOLDS (since r12): each tombstone row carries
  * `ts_gen` — it hides rows of its id whose write generation (the
  * stores' [[GenMeta]]-stamped `gen` column) is `<= ts_gen`. Hide-sets
  * are downward-closed intervals, so deduping a re-tombstoned id by
  * MAX ts_gen is the exact union. This is what makes upsert-by-id
  * work WITHOUT a compact between delete and re-add: a delete
  * tombstones at the store's current generation, and a later upsert
  * writes at a strictly higher one — visible immediately. Rows/stores
  * without a generation column are generation 0 (the insert-only
  * layout), hidden by every tombstone, so the legacy hide-all
  * semantics ([[NearDupIndex]], pre-r12 tombstone files) are the
  * degenerate case of the same rule.
  *
  * COMMIT WATERMARK (since r13 — reader-ATOMIC upsert): each tombstone
  * row additionally carries `ts_wgen`, the generation of the WRITER
  * that appended it — 0 for deletes (visible immediately, as ever),
  * `g` for the tombstone an upsert-to-generation-`g` writes. When the
  * store has a [[GenMeta]] commit watermark, [[minus]] snapshots it
  * once at plan time and gates BOTH sides on it: tombstones with
  * `ts_wgen > watermark` and data rows with `gen > watermark` are
  * in-flight (or torn) and do not serve. An upsert therefore writes
  * its data AND its tombstone invisibly and flips them visible
  * together with one commit — [[Lifecycle]] states the order and its
  * reader and crash guarantees. Stores without a watermark table (insert-only
  * or pre-r13) read exactly as before — one existence check, same
  * plans.
  *
  * Scale shape: tombstones are bounded by delete/upsert volume since
  * the last fold (bare ids + a long, a few bytes each), so the
  * serving-side subtraction is a BROADCAST anti-join that reshuffles
  * nothing and leaves the postings scan's partition pruning untouched.
  * The contract is SELF-ENFORCING on two axes: [[append]] merges the
  * one-file-per-delete accumulation back to a single file past a
  * count threshold (append-then-drop, crash-safe superset at every
  * step), and [[minus]] measures the tombstone bytes before planning —
  * past `spark.graft.tombstone.broadcastBytes` (default 8 MB parquet)
  * it drops the broadcast hint and lets AQE pick a shuffle anti-join,
  * so a mass-delete cannot broadcast an over-large frame. The fold is
  * one partition-layout-preserving rewrite through
  * [[graft.sinks.DirCompaction.swap]] — a crash at any point leaves the
  * rows in exactly one of live/tmp/old, and the tombstone set clears
  * only after every data subdir has folded, so an interrupted
  * compaction still serves correctly and a re-run finishes the job
  * (subtracting already-removed ids is a no-op). Writers are single at a time per
  * store (the stores' documented discipline); readers racing a merge
  * or fold see either layout, never a torn one.
  */
private[operators] object Tombstones {

  /** Generation threshold column of a tombstone row (hide gens <= it). */
  private val GenCol = "ts_gen"

  /** Writer-generation column: the [[GenMeta]] generation whose commit
    * makes this tombstone row visible (0 = always — deletes and every
    * pre-watermark file).
    */
  private val WGenCol = "ts_wgen"

  /** Merge the tombstone dir back to one file past this many files —
    * each delete/upsert appends one, and between folds every serving
    * query's anti-join reads them all.
    */
  private val MergeAtFiles = 16

  /** Parquet-bytes ceiling for broadcasting the tombstone set; above
    * it [[minus]] lets AQE plan the anti-join (a mass-delete must not
    * force-broadcast). Overridable per session for tests/tuning.
    */
  private val BroadcastBytesKey = "spark.graft.tombstone.broadcastBytes"
  private val BroadcastBytesDefault = 8L * 1024 * 1024

  private def path(dir: String): String = s"$dir/tombstones"

  private def exists(spark: SparkSession, dir: String): Boolean =
    StoreUtil.exists(spark, path(dir))

  private def hfs(spark: SparkSession, p: HPath): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(fs: FileSystem, p: HPath): Array[HPath] =
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath)

  /** Append tombstone ids hiding generations `<= gen` (default: hide
    * every generation — the insert-only stores' delete semantics).
    * Duplicates (re-deleting an id, or an id the store never held) are
    * harmless: the subtraction is an anti-join and re-tombstoned ids
    * dedup by max threshold. Past [[MergeAtFiles]] files the set is
    * merged back to one file: the merged file APPENDS first and the
    * captured originals drop after, so a crash at any point leaves a
    * row SUPERSET with the identical hide-set (max-dedup at read).
    */
  def append(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String, gen: Long = Long.MaxValue,
      wgen: Long = 0L): Unit = {
    ids.select(idCol).distinct().withColumn(GenCol, lit(gen))
      .withColumn(WGenCol, lit(wgen))
      .coalesce(1).write.mode("append").parquet(path(dir))
    val p = new HPath(path(dir))
    val fs = hfs(spark, p)
    val files = dataFiles(fs, p)
    if (files.length > MergeAtFiles) {
      // merge per (id, WRITER generation), not per id: collapsing an
      // id's rows across writer generations onto one max-ts row would
      // tag a committed hide-set with an uncommitted writer — the old
      // delete would stop serving until the in-flight upsert commits.
      // Grouping by (id, wgen) preserves the visible hide-set at EVERY
      // watermark; (id, wgen) repeats only across separate delete
      // calls (wgen 0), which is exactly what the merge is for.
      readAll(spark, dir)
        .groupBy(idCol, WGenCol).agg(max(GenCol).as(GenCol))
        .coalesce(1).write.mode("append").parquet(path(dir))
      files.foreach(f => fs.delete(f, false): Unit)
    }
  }

  /** The tombstone set with `ts_gen`/`ts_wgen` normalized: legacy rows
    * (files written before either column existed) read as null through
    * the merged schema and mean "hide everything" / "visible at every
    * watermark". `watermark` (when the store has one) drops rows an
    * uncommitted writer appended.
    */
  private def readAll(spark: SparkSession, dir: String,
      watermark: Option[Long] = None): DataFrame = {
    val raw = StoreUtil.readLeg(spark, path(dir))
    def norm(df: DataFrame, c: String, dflt: Long) =
      if (df.columns.contains(c))
        df.withColumn(c, coalesce(col(c), lit(dflt)))
      else df.withColumn(c, lit(dflt))
    val all = norm(norm(raw, GenCol, Long.MaxValue), WGenCol, 0L)
    watermark.fold(all)(w => all.filter(col(WGenCol) <= w))
  }

  /** Hint the tombstone side for the anti-join: broadcast while the
    * set is small (the common bounded-by-delete-volume case — plan
    * shape unchanged vs pre-guard), plain past the byte ceiling so AQE
    * picks the join for a mass-delete.
    */
  private def sized(spark: SparkSession, dir: String,
      tomb: DataFrame): DataFrame = {
    val p = new HPath(path(dir))
    val fs = hfs(spark, p)
    val bytes = dataFiles(fs, p).map(fs.getFileStatus(_).getLen).sum
    val ceiling = spark.conf.getOption(BroadcastBytesKey)
      .map(_.toLong).getOrElse(BroadcastBytesDefault)
    if (bytes <= ceiling) broadcast(tomb) else tomb
  }

  /** Serving-side subtraction: `df` minus the tombstone-hidden rows.
    * With `genCol` (and `df` carrying it), a row hides iff SOME
    * tombstone of its id has `ts_gen >= row.gen` — upserted rows at a
    * higher generation survive their own id's older tombstones.
    * Without it, `df`'s rows are generation 0 and every tombstone of
    * the id hides them (ts_gen is never negative), so the plain
    * id-anti-join is exact. No tombstones → `df` unchanged (the common
    * case pays one existence check and keeps its exact plan, so the
    * pinned plan shapes of tombstone-free stores are unaffected).
    */
  def minus(spark: SparkSession, dir: String, df: DataFrame,
      idCol: String, genCol: Option[String] = None): DataFrame = {
    // the watermark snapshots ONCE, driver-side, before the plan is
    // built — every leaf the plan later reads is gated on the same
    // committed generation, so a reader racing an upsert sees a
    // CONSISTENT old snapshot whichever leg executes first. Absent
    // watermark table (insert-only / pre-r13 stores): ungated, the
    // exact legacy read.
    val wm = GenMeta.committed(spark, dir)
    val gated = genCol.filter(df.columns.contains) match {
      case Some(g) =>
        // rows stamped above the watermark are in-flight/torn upsert
        // data — invisible until their GenMeta.commit lands
        wm.fold(df)(w => df.filter(coalesce(col(g), lit(0L)) <= w))
      case None => df
    }
    if (!exists(spark, dir)) gated
    else genCol.filter(df.columns.contains) match {
      case Some(g) =>
        val tomb = readAll(spark, dir, wm)
          .groupBy(idCol).agg(max(GenCol).as(GenCol))
          .withColumnRenamed(idCol, "__ts_id")
        val t = sized(spark, dir, tomb)
        val cond: Column = gated(idCol) === t("__ts_id") &&
          coalesce(gated(g), lit(0L)) <= t(GenCol)
        gated.join(t, cond, "left_anti")
      case None =>
        gated.join(
          sized(spark, dir, readAll(spark, dir, wm).select(idCol)),
          Seq(idCol), "left_anti")
    }
  }

  /** Rewrite `dir/$sub` without the tombstone-hidden rows, preserving
    * its partition layout, through [[graft.sinks.DirCompaction.swap]]
    * (which first repairs an interrupted earlier swap). No-op when the
    * store carries no tombstones.
    */
  private def fold(spark: SparkSession, dir: String, sub: String,
      idCol: String, partitionCols: Seq[String]): Unit = {
    if (!exists(spark, dir)) return
    val base = new HPath(s"$dir/$sub")
    DirCompaction.swap(hfs(spark, base), base) { tmp =>
      // the tmp parquet commit fully executes the filtered plan BEFORE
      // the swap's first rename — the live dir is never touched while
      // a plan still reads it
      val w = minus(spark, dir, StoreUtil.readLeg(spark, base.toString),
        idCol, genCol = Some("gen")).write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp)
    }: Unit
  }

  /** Drop the tombstone set — the LAST step of a compaction, after
    * every data subdir has folded (clearing first would resurrect the
    * hidden rows in any not-yet-folded subdir).
    */
  private def clear(spark: SparkSession, dir: String): Unit = {
    val p = new HPath(path(dir))
    hfs(spark, p).delete(p, true): Unit
  }

  /** Tombstone rows currently pending (0 without a set) — the debt
    * numerator of [[Lifecycle]]'s ratio-triggered auto-fold, and the
    * `tombstones` column of each store's `describe`.
    */
  def pendingRows(spark: SparkSession, dir: String): Long =
    if (exists(spark, dir))
      spark.read.parquet(path(dir)).count()
    else 0L

  /** The write lifecycle the three stores share: each store supplies
    * only its id column, its data legs, its raw row count and its own
    * write; [[delete]], [[compact]] and the auto-fold live here once.
    *
    * UPSERT ORDER (reader-atomic, crash-safe) — the one statement of
    * it every store's `upsert` points at:
    *  1. [[GenMeta.initCommitted]]: once the watermark table exists,
    *     readers gate on it, so what follows stays invisible;
    *  1. [[GenMeta.reserve]] generation `g` (a re-run after a crash
    *     lands strictly higher);
    *  1. the store's own write, every row stamped `gen = g` — above the
    *     watermark, so no reader serves it yet;
    *  1. a tombstone of the batch ids at threshold `g - 1` tagged
    *     writer `g` — hiding every older row of those ids, but
    *     inactive until `g` commits;
    *  1. [[GenMeta.commit]]`(g)`: the one-file append that flips the
    *     new rows and the tombstone visible together;
    *  1. the auto-fold check.
    * A reader anywhere in the window serves the OLD version of every
    * upserted id — never absent, never both generations (readers
    * snapshot the watermark once at plan time, see [[minus]]). A torn
    * upsert's rows and tombstone stay invisible forever, and the
    * re-run's own tombstone hides them the moment its commit raises
    * the watermark past them. Recovery re-sends the batch through
    * `upsert`, not `update`: the torn rows still occupy the raw
    * membership list. Single writer per store, enforced by
    * [[GenMeta.reserve]]'s atomic marker. TombstoneHygieneSpec replays
    * this order for all three stores with a reader between every
    * pair of steps.
    *
    * DELETE tombstones at the CURRENT generation: it hides everything
    * written so far and nothing written after, so an upsert may re-add
    * the id with no compact in between (for a never-upserted store the
    * current generation is 0 = every row, the legacy hide-all rule).
    * The plain `update` cannot re-add a tombstoned id before the fold:
    * its membership check still sees the physical row.
    *
    * COMPACT folds every leg, runs the store's [[afterFold]] hook,
    * clears the tombstones LAST (an interrupted fold keeps subtracting
    * and a re-run finishes the job) and consolidates the generation
    * tables, PRESERVING their max (a reset counter would let a later
    * delete's threshold miss live higher-generation rows). Serving is
    * bit-identical before and after; afterwards a deleted id may
    * re-index through `update`.
    */
  trait Lifecycle {

    /** Id column of the store's rows and of its tombstones. */
    protected def idCol: String

    /** The data legs [[compact]] folds, in order: (subdir, partition
      * columns, preserved by the rewrite).
      */
    protected def legs: Seq[(String, Seq[String])]

    /** Raw row count of the store's membership leg, superseded
      * generations and tombstoned rows included — read cheaply
      * (footer stats or a small side table), never the data pages.
      */
    protected def rawRows(spark: SparkSession, dir: String): Long

    /** Runs in [[compact]] after every leg has folded and before the
      * tombstones clear (a store's side table rebuilt from the folded
      * legs).
      */
    protected def afterFold(spark: SparkSession, dir: String): Unit = ()

    /** Tombstone-debt ratio past which [[delete]] and `upsert` compact
      * the store themselves — the self-enforcing bound that keeps the
      * serving anti-join's tombstone set small next to the store (pass
      * `Double.PositiveInfinity` to opt out).
      */
    val AutoFoldAt = 0.5

    /** DELETE ids: every serving read subtracts them at once, and the
      * rows physically fold out at the next [[compact]].
      */
    def delete(spark: SparkSession, dir: String, ids: DataFrame,
        autoFoldAt: Double = AutoFoldAt): Unit = {
      append(spark, dir, ids, idCol, gen = GenMeta.current(spark, dir))
      autoFold(spark, dir, autoFoldAt)
    }

    /** Fold the tombstones out of every leg, then clear them. */
    def compact(spark: SparkSession, dir: String): Unit = {
      legs.foreach { case (sub, parts) => fold(spark, dir, sub, idCol, parts) }
      afterFold(spark, dir)
      clear(spark, dir)
      GenMeta.consolidate(spark, dir)
    }

    /** Run the store's `write` at a fresh generation inside the
      * UPSERT ORDER above; `batch` carries the ids to supersede.
      */
    protected def upserting[T](spark: SparkSession, dir: String,
        batch: DataFrame, autoFoldAt: Double)(write: Long => T): T = {
      GenMeta.initCommitted(spark, dir)
      val g = GenMeta.reserve(spark, dir)
      val out = write(g)
      append(spark, dir, batch, idCol, gen = g - 1, wgen = g)
      GenMeta.commit(spark, dir, g)
      autoFold(spark, dir, autoFoldAt)
      out
    }

    /** Compact once debt >= threshold * max(raw - debt, 1): the raw
      * count also holds superseded generations and deleted rows, so
      * raw minus debt is the live-row proxy — a raw denominator would
      * leave an upsert-heavy store under-triggered.
      */
    private def autoFold(spark: SparkSession, dir: String,
        threshold: Double): Unit = {
      if (threshold.isInfinite) return
      val debt = pendingRows(spark, dir)
      if (debt > 0L && debt.toDouble >=
          threshold * math.max(rawRows(spark, dir) - debt, 1L).toDouble)
        compact(spark, dir)
    }
  }
}
