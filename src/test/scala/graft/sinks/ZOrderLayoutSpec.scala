package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Z-order layout: both clustered columns get narrow per-file spans
  * (a linear sort only narrows its own), and the written data is the
  * input, unchanged.
  */
class ZOrderLayoutSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"
  private val nFiles = 16

  // mean fraction of the global range a file's [lo, hi] span covers —
  // the expected scan fraction for a uniform point predicate
  private def meanSpanFraction(dir: String, c: String): Double = {
    val spans = ZOrderLayout.fileSpans(spark.read.parquet(dir), c)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val lo = spans.map(_._1).min
    val hi = spans.map(_._2).max
    spans.map { case (l, h) => (h - l).toDouble / (hi - lo) }.sum /
      spans.length
  }

  test("z-order narrows BOTH columns' file spans; linear sort only one") {
    val li = graft.Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")

    val zDir = Files.createTempDirectory("zorder").toString
    ZOrderLayout.write(li, zDir, "l_orderkey", "l_partkey", nFiles)

    val linDir = Files.createTempDirectory("linear").toString
    li.repartitionByRange(nFiles, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(linDir)

    // linear sort: near-perfect on its own key, useless on the other
    assert(meanSpanFraction(linDir, "l_orderkey") < 0.15)
    assert(meanSpanFraction(linDir, "l_partkey") > 0.8)
    // z-order: BOTH columns well under the full range per file
    assert(meanSpanFraction(zDir, "l_orderkey") < 0.5)
    assert(meanSpanFraction(zDir, "l_partkey") < 0.5)
  }

  test("layout pass preserves the row multiset exactly") {
    val li = graft.Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val dir = Files.createTempDirectory("zorder2").toString
    ZOrderLayout.write(li, dir, "l_orderkey", "l_partkey", nFiles)
    val back = spark.read.parquet(dir)
    assert(back.count() == li.count())
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
  }

  test("manifest-pruned read opens fewer files yet returns exact rows") {
    val li = graft.Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val dir = Files.createTempDirectory("zorder4").toString
    ZOrderLayout.write(li, dir, "l_orderkey", "l_partkey", nFiles)
    ZOrderLayout.writeManifest(spark, dir,
      Seq("l_orderkey", "l_partkey").map(c => c -> col(c)))

    // a narrow range on EACH clustered column
    for (c <- Seq("l_orderkey", "l_partkey")) {
      val Array(lo, hi) = li.agg(min(col(c)).cast("long"),
        max(col(c)).cast("long")).collect()(0) match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
      val qLo = lo + (hi - lo) / 2
      val qHi = qLo + (hi - lo) / 10
      val pruned = ZOrderLayout.prunedRead(spark, dir, Seq(c -> col(c)),
        Seq((qLo, qHi)))
      val full = spark.read.parquet(dir)
        .filter(col(c).cast("long").between(qLo, qHi))
      assert(pruned.count() == full.count(), c)
      assert(pruned.exceptAll(full).isEmpty, c)
      // the manifest actually pruned: a 10% range must not need all files
      val opened = pruned.select(input_file_name()).distinct().count()
      assert(opened < nFiles, s"$c opened=$opened")
    }

    // an empty range prunes everything and keeps the schema
    val none = ZOrderLayout.prunedRead(spark, dir,
      Seq("l_orderkey" -> col("l_orderkey")),
      Seq((Long.MaxValue - 1, Long.MaxValue)))
    assert(none.count() == 0)
    assert(none.columns.toSeq ==
      Seq("l_orderkey", "l_partkey", "l_quantity"))
  }

  test("degenerate ranges (constant column) still write and round-trip") {
    val one = graft.Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey").limit(100)
      .withColumn("k", lit(7L))
    val dir = Files.createTempDirectory("zorder3").toString
    ZOrderLayout.write(one, dir, "k", "l_partkey", 4)
    assert(spark.read.parquet(dir).count() == 100)
  }
}
