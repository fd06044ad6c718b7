package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}

import org.apache.spark.sql.SparkSession

/** Bin-packing compaction for PLAIN append-only parquet stores (the
  * [[graft.operators.NearDupIndex]] band/shingle dirs, the
  * [[graft.operators.AnnIndex]] cell-partitioned postings) — the
  * pointer-less sibling of [[ParquetIndex.compact]]: every LEAF
  * directory holding parquet files is rewritten to
  * `ceil(bytes / targetFileBytes)` files when its file count exceeds
  * the healthy bound, via write-to-temp then swap.
  *
  * All store access goes through the Hadoop FileSystem API resolved
  * from the root path, so the same code compacts `file:`, `hdfs:` or
  * `s3a:` stores — matching the Hadoop-FS discipline of the index
  * stores it serves (a java.nio walk would silently see nothing on a
  * URI-style root).
  *
  * Single-writer stores only: callers pause updates for the swap (the
  * same discipline their `update()` already assumes — concurrent
  * appends to one store are undefined with or without compaction).
  * The rewrite is restartable and never deletes live data mid-swap
  * ([[swap]]), and every `compact()` begins with a RECOVERY sweep
  * ([[recoverDir]]'s state table) — so no crash point leaves a store
  * partition unreadable or corrupts partition discovery with a
  * lingering suffixed sibling.
  */
object DirCompaction {

  private val TmpSuffix = ".compact-tmp"
  private val OldSuffix = ".compact-old"

  private def listed(fs: FileSystem, dir: HPath): Seq[FileStatus] =
    if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil

  private def parquetFiles(fs: FileSystem, dir: HPath): Seq[FileStatus] =
    listed(fs, dir).filter(s => s.isFile &&
      s.getPath.getName.endsWith(".parquet"))

  private def leafDirs(fs: FileSystem, root: HPath): Seq[HPath] = {
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return Nil
    val subdirs = listed(fs, root).filter(s => s.isDirectory &&
      !s.getPath.getName.endsWith(TmpSuffix) &&
      !s.getPath.getName.endsWith(OldSuffix))
    if (subdirs.isEmpty) Seq(root)
    else subdirs.flatMap(s => leafDirs(fs, s.getPath))
  }

  /** The swap's (tmp, old) siblings of `base`. */
  private def siblings(base: HPath): (HPath, HPath) =
    (new HPath(base.getParent, base.getName + TmpSuffix),
      new HPath(base.getParent, base.getName + OldSuffix))

  /** Repair an interrupted swap of `base`.
    *
    * State table (from the swap protocol's crash points):
    *  - base EXISTS + orphan(s): crash before the first rename (tmp may
    *    be incomplete) or after the second (old superseded) → the live
    *    dir is authoritative, delete orphans.
    *  - base MISSING + tmp exists: crash between the two renames. The
    *    tmp write had already completed (the first rename happens only
    *    after the tmp parquet commit), so tmp IS the rewritten result
    *    → rename it into place, then drop old.
    *  - base MISSING + only old: crash immediately after the first
    *    rename on a store whose tmp vanished (shouldn't occur, but
    *    restorable) → rename old back into place.
    */
  private def recoverDir(fs: FileSystem, base: HPath): Unit = {
    val (tmp, old) = siblings(base)
    if (fs.exists(base)) {
      fs.delete(tmp, true)
      fs.delete(old, true): Unit
    } else if (fs.exists(tmp)) {
      require(fs.rename(tmp, base), s"recover: rename $tmp -> $base")
      fs.delete(old, true): Unit
    } else if (fs.exists(old)) {
      require(fs.rename(old, base), s"recover: rename $old -> $base")
    }
  }

  /** [[recoverDir]] every interrupted swap under `root`: a suffixed dir
    * names its base, which may itself be missing.
    */
  private def recover(fs: FileSystem, root: HPath): Unit = {
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return
    def walk(dir: HPath): Unit = listed(fs, dir).filter(_.isDirectory)
      .foreach { s =>
        val name = s.getPath.getName
        if (name.endsWith(TmpSuffix) || name.endsWith(OldSuffix))
          recoverDir(fs, new HPath(dir,
            name.stripSuffix(TmpSuffix).stripSuffix(OldSuffix)))
        else walk(s.getPath)
      }
    walk(root)
  }

  /** Rewrite `dir` in place through the two-rename swap — the one
    * crash-safe directory swap of the serving stores (this compaction
    * and [[graft.operators.Tombstones]]' fold). First repairs an
    * interrupted earlier swap of `dir` ([[recoverDir]]); then `write`
    * fills the tmp sibling (its path is the argument) and must have
    * COMMITTED before it returns; only then does `dir` rename to old,
    * tmp to `dir`, and old go — never a delete of live data, so a
    * crash at any point leaves the rows in exactly one of dir / tmp /
    * old, which the next swap or compaction repairs (rm-before-move
    * would lose the dir on a crash between the two calls). Returns
    * false, writing nothing, if `dir` is absent.
    */
  private[graft] def swap(fs: FileSystem, dir: HPath)(
      write: String => Unit): Boolean = {
    recoverDir(fs, dir)
    if (!fs.exists(dir)) return false
    val (tmp, old) = siblings(dir)
    write(tmp.toString)
    require(fs.rename(dir, old), s"swap: rename $dir -> $old")
    require(fs.rename(tmp, dir), s"swap: rename $tmp -> $dir")
    fs.delete(old, true)
    true
  }

  /** Compact every over-fragmented leaf dir under `root` (recovering
    * any interrupted earlier swap first); returns the number of
    * directories rewritten.
    */
  def compact(spark: SparkSession, root: String, maxFilesPerDir: Int = 4,
      targetFileBytes: Long = 128L << 20): Int = {
    val rootPath = new HPath(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, rootPath)
    leafDirs(fs, rootPath).count { dir =>
      val files = parquetFiles(fs, dir)
      val target = math.max(1,
        math.ceil(files.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
      // healthy = within the count bound OR already byte-sized wide
      files.size > math.max(maxFilesPerDir, target) &&
        swap(fs, dir) { tmp =>
          // mergeSchema: a leaf dir can hold files of different
          // (additive) metadata eras — see StoreUtil.readLeg
          graft.operators.StoreUtil.readLeg(spark, dir.toString)
            .coalesce(target).write.mode("overwrite").parquet(tmp)
        }
    }
  }
}
