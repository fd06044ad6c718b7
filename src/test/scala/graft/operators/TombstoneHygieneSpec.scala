package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Self-enforcing tombstone hygiene: ratio-triggered auto-fold, the
  * one-file-per-delete merge, the broadcast size guard, and the
  * generation counter surviving compaction.
  */
class TombstoneHygieneSpec extends SparkSpecBase {

  import spark.implicits._

  private def tinyDocs(n: Int) =
    (1 to n).map(i => (i.toLong, s"tok$i alpha beta"))
      .toDF("doc_id", "text")

  test("ratio-triggered auto-fold: a delete-heavy sequence compacts " +
      "itself once debt crosses the threshold; serving matches a " +
      "from-scratch post-delete store") {
    val dir = Files.createTempDirectory("tomb_autofold").toString
    TermIndex.update(spark, dir, tinyDocs(140))
    // 2/7 of the corpus: below the 0.5 default — tombstones remain
    TermIndex.delete(spark, dir,
      tinyDocs(140).filter(col("doc_id") % 7 < 2).select("doc_id"))
    assert(StoreUtil.exists(spark, s"$dir/tombstones"))
    // two more sevenths: 4/7 ≈ 0.57 crosses the threshold — the
    // delete call itself compacts and clears the debt
    TermIndex.delete(spark, dir,
      tinyDocs(140).filter(col("doc_id") % 7 === 2 ||
        col("doc_id") % 7 === 3).select("doc_id"))
    assert(!StoreUtil.exists(spark, s"$dir/tombstones"))
    val ref = Files.createTempDirectory("tomb_autofold_ref").toString
    TermIndex.update(spark, ref,
      tinyDocs(140).filter(col("doc_id") % 7 >= 4))
    def res(d: String) = TermIndex.search(spark, d,
      Seq("alpha", "beta"), 10000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(res(dir) == res(ref))
    // opting out (PositiveInfinity) leaves even a 100% debt pending
    val dir2 = Files.createTempDirectory("tomb_autofold2").toString
    TermIndex.update(spark, dir2, tinyDocs(20))
    TermIndex.delete(spark, dir2, tinyDocs(20).select("doc_id"),
      autoFoldAt = Double.PositiveInfinity)
    assert(StoreUtil.exists(spark, s"$dir2/tombstones"))
  }

  test("an upsert-heavy term store auto-folds on the live-row " +
      "denominator: upserting 60 of 100 docs compacts") {
    val dir = Files.createTempDirectory("tomb_autofold_upsert").toString
    TermIndex.update(spark, dir, tinyDocs(100))
    // debt 60 against 100 live docs crosses 0.5; doclen's raw 160 rows
    // (the superseded generation included) would not
    TermIndex.upsert(spark, dir, tinyDocs(60)
      .withColumn("text", concat(col("text"), lit(" gamma"))))
    assert(!StoreUtil.exists(spark, s"$dir/tombstones"))
    assert(TermIndex.search(spark, dir, Seq("gamma"), 1000)
      .collect().map(_.getLong(0)).toSet == (1L to 60L).toSet)
  }

  test("a fold interrupted between its two swap renames is repaired " +
      "by the next compact; serving matches a from-scratch store") {
    val dir = Files.createTempDirectory("tomb_fold_crash").toString
    TermIndex.update(spark, dir, tinyDocs(40))
    TermIndex.delete(spark, dir,
      tinyDocs(40).filter(col("doc_id") % 4 === 0).select("doc_id"),
      autoFoldAt = Double.PositiveInfinity)
    // the fold of doclen died after rename(live -> old): tmp holds the
    // complete folded leg, the live name is missing, tombstones remain
    val live = java.nio.file.Paths.get(s"$dir/doclen")
    Tombstones.minus(spark, dir, spark.read.parquet(live.toString),
      "doc_id", genCol = Some("gen"))
      .write.parquet(s"$live.compact-tmp")
    Files.move(live, java.nio.file.Paths.get(s"$live.compact-old"))
    TermIndex.compact(spark, dir)
    assert(Files.exists(live))
    assert(!Files.exists(java.nio.file.Paths.get(s"$live.compact-tmp")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$live.compact-old")))
    assert(!StoreUtil.exists(spark, s"$dir/tombstones"))
    val ref = Files.createTempDirectory("tomb_fold_crash_ref").toString
    TermIndex.update(spark, ref,
      tinyDocs(40).filter(col("doc_id") % 4 =!= 0))
    def res(d: String) = TermIndex.search(spark, d,
      Seq("alpha", "beta"), 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(res(dir) == res(ref))
  }

  test("the ANN store auto-folds on the same debt ratio") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = Files.createTempDirectory("tomb_autofold_ann").toString
    AnnIndex.build(spark, dir, emb.filter(col("vec_id") > 0),
      lloydRounds = 0)
    // delete well past half the store in one call — the call compacts
    AnnIndex.delete(spark, dir,
      emb.filter(col("vec_id") > 8 && col("vec_id") % 3 =!= 0)
        .select("vec_id"))
    assert(!StoreUtil.exists(spark, s"$dir/tombstones"))
    val live = spark.read.parquet(s"$dir/postings")
      .select("vec_id").as[Long].collect().toSet
    assert(live.forall(v => v <= 8 || v % 3 == 0))
  }

  test("tombstone appends merge back toward one file past the count " +
      "threshold, hide-set intact") {
    val dir = Files.createTempDirectory("tomb_merge").toString
    TermIndex.update(spark, dir, tinyDocs(100))
    (1 to 20).foreach { i =>
      TermIndex.delete(spark, dir, Seq(i.toLong).toDF("doc_id"),
        autoFoldAt = Double.PositiveInfinity)
    }
    val files = new java.io.File(s"$dir/tombstones").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.endsWith(".crc"))
    // 20 appends would be 20 files unmerged; the merge at >16 folds
    // them (a few post-merge appends may follow)
    assert(files.length <= 5, s"${files.length} tombstone files")
    val served = TermIndex.search(spark, dir, Seq("alpha"), 10000)
      .collect().map(_.getLong(0)).toSet
    assert((1 to 20).forall(i => !served.contains(i.toLong)))
    assert(served.size == 80)
  }

  test("a tombstone set past the broadcast ceiling plans a " +
      "non-broadcast anti-join with identical results") {
    val dir = Files.createTempDirectory("tomb_guard").toString
    TermIndex.update(spark, dir, tinyDocs(200))
    TermIndex.delete(spark, dir,
      tinyDocs(200).filter(col("doc_id") % 2 === 0).select("doc_id"),
      autoFoldAt = Double.PositiveInfinity)
    val doclen = spark.read.parquet(s"$dir/doclen")
    val hinted = Tombstones.minus(spark, dir, doclen, "doc_id",
      genCol = Some("gen"))
    assert(hinted.queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast"))
    spark.conf.set("spark.graft.tombstone.broadcastBytes", "1")
    try {
      val plain = Tombstones.minus(spark, dir, doclen, "doc_id",
        genCol = Some("gen"))
      assert(!plain.queryExecution.optimizedPlan.toString
        .contains("strategy=broadcast"))
      assert(plain.collect().map(_.getLong(0)).sorted.toSeq ==
        hinted.collect().map(_.getLong(0)).sorted.toSeq)
    } finally spark.conf.unset("spark.graft.tombstone.broadcastBytes")
  }

  // ------------------------------------------------------------------ //
  // READER-ATOMIC upsert (r13): the writer's order is reserve → data  //
  // at gen g → tombstone tagged writer g → commit watermark g. A      //
  // reader interleaved between ANY two steps serves the OLD version   //
  // exactly — never the doc absent, never both generations — and the  //
  // one-file watermark append is the atomic flip.                     //
  // ------------------------------------------------------------------ //

  test("TermIndex upsert is reader-atomic: a reader between every " +
      "pair of writer steps serves the OLD version; the watermark " +
      "commit flips to the NEW version") {
    val dir = Files.createTempDirectory("atomic_term").toString
    val docsOld = Seq((1L, "alpha beta"), (2L, "alpha gamma"),
      (3L, "beta beta")).toDF("doc_id", "text")
    TermIndex.update(spark, dir, docsOld)
    def served(d: String) = TermIndex.search(spark, d,
      Seq("alpha", "beta", "delta"), 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    val before = served(dir)
    val batch = Seq((1L, "delta delta")).toDF("doc_id", "text")
    // replay upsert()'s exact internal order, reading between steps
    GenMeta.initCommitted(spark, dir)
    assert(served(dir) == before, "watermark init must not change serving")
    val g = GenMeta.reserve(spark, dir)
    assert(served(dir) == before, "reservation must not change serving")
    TermIndex.writeRows(spark, dir, batch, gen = g)
    assert(served(dir) == before,
      "uncommitted data (gen above watermark) must stay invisible")
    Tombstones.append(spark, dir, batch.select("doc_id"), "doc_id",
      gen = g - 1, wgen = g)
    assert(served(dir) == before,
      "uncommitted tombstone (writer above watermark) must stay inactive")
    GenMeta.commit(spark, dir, g)
    val ref = Files.createTempDirectory("atomic_term_ref").toString
    TermIndex.update(spark, ref, Seq((1L, "delta delta"),
      (2L, "alpha gamma"), (3L, "beta beta")).toDF("doc_id", "text"))
    assert(served(dir) == served(ref),
      "the watermark commit must flip to a from-scratch post-upsert build")
  }

  test("a TORN upsert (no commit) stays invisible forever; recovery " +
      "re-runs through upsert and lands cleanly") {
    val dir = Files.createTempDirectory("atomic_torn").toString
    val docsOld = Seq((1L, "alpha beta"), (2L, "alpha gamma"))
      .toDF("doc_id", "text")
    TermIndex.update(spark, dir, docsOld)
    def served(d: String) = TermIndex.search(spark, d,
      Seq("alpha", "beta", "delta"), 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    val before = served(dir)
    val batch = Seq((1L, "delta delta")).toDF("doc_id", "text")
    // crash after data + tombstone, BEFORE the watermark commit
    GenMeta.initCommitted(spark, dir)
    val g = GenMeta.reserve(spark, dir)
    TermIndex.writeRows(spark, dir, batch, gen = g)
    Tombstones.append(spark, dir, batch.select("doc_id"), "doc_id",
      gen = g - 1, wgen = g)
    assert(served(dir) == before, "torn upsert must not serve")
    // recovery contract: re-send the batch through upsert() — the
    // re-run's own tombstone hides the torn rows when it commits
    TermIndex.upsert(spark, dir, batch,
      autoFoldAt = Double.PositiveInfinity)
    val ref = Files.createTempDirectory("atomic_torn_ref").toString
    TermIndex.update(spark, ref, Seq((1L, "delta delta"),
      (2L, "alpha gamma")).toDF("doc_id", "text"))
    assert(served(dir) == served(ref))
    // and the fold physically garbage-collects the torn generation
    TermIndex.compact(spark, dir)
    assert(served(dir) == served(ref))
  }

  test("GenMeta.reserve enforces single-writer: a held generation " +
      "marker fails fast instead of double-reserving") {
    val dir = Files.createTempDirectory("atomic_lock").toString
    TermIndex.update(spark, dir, tinyDocs(5))
    val g = GenMeta.current(spark, dir) + 1
    val p = new org.apache.hadoop.fs.Path(GenMeta.path(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    fs.create(new org.apache.hadoop.fs.Path(p, s".g$g.reserved"), false)
      .close()
    val e = intercept[IllegalArgumentException](
      GenMeta.reserve(spark, dir))
    assert(e.getMessage.contains("already reserved"))
    // crashed-writer recovery: compact sweeps the stale marker (with
    // the consolidated rows), after which the next reserve proceeds
    TermIndex.compact(spark, dir)
    TermIndex.upsert(spark, dir, Seq((99L, "omega omega"))
      .toDF("doc_id", "text"), autoFoldAt = Double.PositiveInfinity)
  }

  test("GenMeta.reserve auto-heals a crashed reservation: a STALE " +
      "rowless marker burns its generation and the next reserve " +
      "proceeds unaided") {
    val dir = Files.createTempDirectory("atomic_heal").toString
    TermIndex.update(spark, dir, tinyDocs(5))
    // kill a writer between its two steps: the marker landed, the
    // genmeta row did not
    val g = GenMeta.current(spark, dir) + 1
    val p = new org.apache.hadoop.fs.Path(GenMeta.path(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    val marker = new org.apache.hadoop.fs.Path(p, s".g$g.reserved")
    fs.create(marker, false).close()
    // while the marker is FRESH it could be a live writer mid-reserve:
    // still fail fast (the test above pins the same shape)
    assert(intercept[IllegalArgumentException](
      GenMeta.reserve(spark, dir))
      .getMessage.contains("already reserved"))
    // age it past the liveness grace (10 min default since r15 — a
    // distributed writer's marker→row window is NOT milliseconds) —
    // now definitionally torn; the heal also sleeps a re-check beat
    fs.setTimes(marker, System.currentTimeMillis() - 1200000L, -1)
    val healed = GenMeta.reserve(spark, dir, healRecheckMs = 50L)
    // the burn is recorded for post-mortem diagnosis
    assert(fs.exists(new org.apache.hadoop.fs.Path(p, s".g$g.burned")))
    // the torn generation is BURNED, never reused (a slow writer might
    // still hold it); the reservation lands one past it
    assert(healed == g + 1)
    assert(GenMeta.current(spark, dir) == g + 1)
    // and the store is fully operational without any manual surgery
    TermIndex.upsert(spark, dir, Seq((77L, "omega omega"))
      .toDF("doc_id", "text"), autoFoldAt = Double.PositiveInfinity)
    assert(TermIndex.search(spark, dir, Seq("omega"), 10)
      .collect().map(_.getLong(0)).contains(77L))
  }

  test("AnnIndex upsert is reader-atomic: serving postings hold the " +
      "old generation until the watermark commit") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = Files.createTempDirectory("atomic_ann").toString
    AnnIndex.build(spark, dir, emb.filter(col("vec_id") > 0),
      lloydRounds = 0)
    def served(): Seq[(Long, Long)] =
      AnnIndex.servingPostings(spark, dir).select("vec_id", "gen")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val before = served()
    val batch = emb.filter(col("vec_id").isin(10L, 11L))
      .select(col("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"),
        col("label"))
    GenMeta.initCommitted(spark, dir)
    val g = GenMeta.reserve(spark, dir)
    AnnIndex.ingest(spark, dir, batch, useManifest = true, gen = g,
      overwrite = true)
    assert(served() == before, "uncommitted cell postings must not serve")
    Tombstones.append(spark, dir, batch.select("vec_id"), "vec_id",
      gen = g - 1, wgen = g)
    assert(served() == before, "uncommitted tombstone must not hide")
    GenMeta.commit(spark, dir, g)
    val after = served()
    assert(after.filter(_._1 == 10L) == Seq((10L, g)))
    assert(after.filter(_._1 == 11L) == Seq((11L, g)))
    assert(after.filterNot(r => r._1 == 10L || r._1 == 11L) ==
      before.filterNot(r => r._1 == 10L || r._1 == 11L))
  }

  test("NearDupIndex upsert is reader-atomic: a probe between the " +
      "writes pairs against the OLD text only; after the commit, " +
      "against the NEW text only") {
    val dir = Files.createTempDirectory("atomic_ndi").toString
    val oldText = "a b c d e f g h"
    val newText = "q r s t u v w x"
    NearDupIndex.update(spark, dir,
      Seq((1L, oldText), (2L, "m n o p m n o p"))
        .toDF("doc_id", "text"))
    def probePairs(text: String): Set[(Long, Long)] =
      NearDupIndex.probe(spark, dir,
        Seq((100L, text)).toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probePairs(oldText) == Set((1L, 100L)))
    assert(probePairs(newText) == Set.empty[(Long, Long)])
    val batch = Seq((1L, newText)).toDF("doc_id", "text")
    GenMeta.initCommitted(spark, dir)
    val g = GenMeta.reserve(spark, dir)
    NearDupIndex.run(spark, dir, batch, threshold = 0.3,
      append = true, gen = g, overwrite = true)
    assert(probePairs(oldText) == Set((1L, 100L)),
      "old version must keep pairing until the commit")
    assert(probePairs(newText) == Set.empty[(Long, Long)],
      "new version must not pair before the commit")
    Tombstones.append(spark, dir, batch.select("doc_id"), "doc_id",
      gen = g - 1, wgen = g)
    assert(probePairs(oldText) == Set((1L, 100L)))
    GenMeta.commit(spark, dir, g)
    assert(probePairs(oldText) == Set.empty[(Long, Long)])
    assert(probePairs(newText) == Set((1L, 100L)))
  }

  test("the generation counter survives compaction (a post-compact " +
      "delete must still out-threshold pre-compact upserts)") {
    val dir = Files.createTempDirectory("tomb_genmeta").toString
    TermIndex.update(spark, dir, tinyDocs(10))
    TermIndex.upsert(spark, dir, Seq((1L, "gamma gamma"))
      .toDF("doc_id", "text"))
    assert(GenMeta.current(spark, dir) == 1L)
    TermIndex.compact(spark, dir)
    // consolidated, not reset
    assert(GenMeta.current(spark, dir) == 1L)
    // delete doc 1 (its live row is generation 1): a reset counter
    // would tombstone at 0 and miss it
    TermIndex.delete(spark, dir, Seq(1L).toDF("doc_id"),
      autoFoldAt = Double.PositiveInfinity)
    val served = TermIndex.search(spark, dir, Seq("gamma"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(served.isEmpty)
    // and the next upsert still lands ABOVE the delete threshold
    TermIndex.upsert(spark, dir, Seq((1L, "delta delta"))
      .toDF("doc_id", "text"))
    assert(GenMeta.current(spark, dir) == 2L)
    val again = TermIndex.search(spark, dir, Seq("delta"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(again == Set(1L))
  }
}
