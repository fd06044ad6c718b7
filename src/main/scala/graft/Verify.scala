package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.buildSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // Wipe stale per-query subdirs from earlier runs (renamed/removed
    // queries would otherwise linger and confuse the compare harness).
    val out = new java.io.File(outDir)
    if (out.isDirectory) out.listFiles.foreach { f =>
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles.foreach(rm)
        x.delete(): Unit
      }
      rm(f)
    }
    out.mkdirs()
    // Local-iteration filter (the driver never sets it): run only the
    // named queries, e.g. SPARK_GRAFT_ONLY=docs_simhash_pairs,ann_adc_rerank
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape (shared JsonText): a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    def q(s: String): String =
      "\"" + graft.functions.JsonText.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
