package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared store plumbing for the durable index trio
  * ([[TermIndex]]/[[NearDupIndex]]/[[AnnIndex]]): one definition of
  * "does this store path exist" through Spark's Hadoop FS layer — an
  * hdfs:// or s3a:// store must not silently read as absent, and the
  * check must not live as three slightly different inline blocks.
  */
private[graft] object StoreUtil {
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Read a store leg with SCHEMA MERGING — the one read for every
    * path that feeds [[Tombstones.minus]] with a `genCol`, rewrites a
    * leg, or serves metadata eras. A leg can mix files of different
    * (additive) widths: pre-gen-era files beside `gen`-stamped ones, or
    * an older metadata era beside a newer one. A plain read samples
    * ONE footer: if it picks a pre-gen file the `gen` column vanishes,
    * `minus` falls back to its hide-all branch and live upserted rows
    * disappear nondeterministically; a rewrite would silently DROP a
    * newer era's columns. Merging reads every footer once per scan.
    */
  def readLeg(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** JVM-lifetime temp-store cache — ONE definition of the
    * build-once-serve-many discipline every index-serving registry
    * query uses (term index, ANN store, near-dup pairs, z-ordered
    * snapshot): the first call for a key creates a temp dir, runs
    * `build` into it, and registers a shutdown-hook delete; later
    * calls (any session in this JVM — the stores are plain files any
    * session can read) reuse the path. Without the shared helper this
    * boilerplate existed four times with independently drifting
    * cleanup code.
    */
  def cachedTempDir(
      cache: java.util.concurrent.ConcurrentHashMap[String, String],
      key: String, prefix: String)(build: String => Unit): String =
    cache.computeIfAbsent(key, { _ =>
      val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles
          // null-guard: an external tmp cleaner may race the hook
          if (kids != null) kids.foreach(rm)
          f.delete(): Unit
        }
        rm(dir)
      }
      build(dir.toString)
      dir.toString
    })

  /** Recursive local copy of a store directory's CONTENTS into an
    * existing destination dir — the lifecycle fixtures' prefix-sharing
    * primitive: a compacted serving twin differs from its uncompacted
    * sibling only in the final fold, so it copies the sibling's store
    * and folds the copy instead of replaying the whole
    * build→delete→upsert sequence per JVM (r12's bench-all cold pass
    * grew 241→307 s exactly on those replays).
    */
  def copyRec(srcDir: String, dstDir: String): Unit = {
    val src = java.nio.file.Paths.get(srcDir)
    val dst = java.nio.file.Paths.get(dstDir)
    java.nio.file.Files.createDirectories(dst)
    val s = java.nio.file.Files.walk(src)
    try {
      s.forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t): Unit
        else
          java.nio.file.Files.copy(p, t, java.nio.file.StandardCopyOption
            .REPLACE_EXISTING): Unit
      }
    } finally s.close()
  }

  /** Best-effort recursive delete for transient local scratch (stream
    * checkpoints): the data outcome never depends on it succeeding.
    */
  def deleteRecQuiet(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles
      if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    try rm(new java.io.File(path)) catch { case _: Throwable => () }
  }
}

/** ONE definition of the deterministic per-subspace PQ assignment,
  * shared by the batch queries ([[VectorOps]] `ann_pq_*`) and the
  * durable store ([[AnnIndex]] code columns + `searchAdc`) — the two
  * must never disagree about codebook geometry or tie rules. The
  * argmin centroid of `emb`'s m-th slice against each centroid's m-th
  * slice, d2 rounded to 4dp BEFORE the argmin (cell membership must
  * not hinge on the last ulp), ties to the lower c_id.
  */
private[operators] object Pq {
  def subAssign(emb: DataFrame, cents: DataFrame, m: Int,
      sub: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val off = m * sub + 1
    val byDist = Window.partitionBy("vec_id")
      .orderBy(col("d2"), col("c_id"))
    emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("c_id"),
        round(expr(s"vec_dist2(slice(embedding, $off, $sub), " +
          s"slice(ce, $off, $sub))"), 4).as("d2"))
      .withColumn("rk", row_number().over(byDist))
      .filter(col("rk") === 1)
      .select("vec_id", "c_id", "d2")
  }
}
