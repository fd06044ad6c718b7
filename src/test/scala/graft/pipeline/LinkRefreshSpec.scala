package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.sinks.ParquetIndex

/** J5's refresh loop: the stale queue feeds a pluggable fetch, successes
  * J2-merge into the links store, re-running drains the queue, fresh
  * links are never re-fetched, failures keep their old row, and the
  * API-returned timestamps (tests/test_api_timestamps.py:161-170) ride
  * along into the store.
  */
/** Top-level (serializable closure) fixture: a deterministic fake API —
  * fails for /b/four.txt, echoes the cached fsentry id (v2 cache reuse)
  * or mints one, returns API timestamps.
  */
private object FakeLinkApi extends LinkRefresh.Fetch {
  val apiCre: Timestamp = Timestamp.valueOf("2026-06-01 08:00:00")
  val apiMod: Timestamp = Timestamp.valueOf("2026-06-15 09:30:00")
  def apply(fp: String, cached: Option[String]) =
    if (fp.endsWith("four.txt")) None
    else Some(LinkRefresh.FetchedLink(
      s"https://fs.example/new${fp.length}",
      cached.orElse(Some(s"fse-minted-$fp")),
      apiCreationTime = Some(apiCre),
      apiModifiedTime = Some(apiMod)))
}

class LinkRefreshSpec extends SparkSpecBase {

  private def ts(s: String) = Timestamp.valueOf(s)
  private val now = ts("2026-08-01 12:00:00")
  private val apiCre = FakeLinkApi.apiCre
  private val apiMod = FakeLinkApi.apiMod

  // f1: stale link (updated before mtime); f2: fresh; f3: no link yet;
  // f4: stale but fetch will fail; f5: stale but skip-pattern-excluded
  private def filesDf: DataFrame = spark.createDataFrame(Seq(
    ("f1", "/a/one.txt", ts("2026-07-10 00:00:00")),
    ("f2", "/a/two.txt", ts("2026-07-10 00:00:00")),
    ("f3", "/b/three.txt", ts("2026-07-10 00:00:00")),
    ("f4", "/b/four.txt", ts("2026-07-10 00:00:00")),
    ("f5", "/tmp-cache/five.txt", ts("2026-07-10 00:00:00"))))
    .toDF("id", "filepath", "modified_time")

  private def linksDf: DataFrame = spark.createDataFrame(Seq(
    ("f1", "https://fs.example/old1", "v2", Some("fse-1"),
      None: Option[Timestamp], None: Option[Timestamp],
      ts("2026-07-01 00:00:00")), // stale: before f1's mtime
    ("f2", "https://fs.example/ok2", "v2", Some("fse-2"),
      None: Option[Timestamp], None: Option[Timestamp],
      ts("2026-07-20 00:00:00")), // fresh
    ("f4", "https://fs.example/old4", "v2", None,
      None: Option[Timestamp], None: Option[Timestamp],
      ts("2026-07-01 00:00:00")), // stale, fetch fails
    ("f5", "https://fs.example/old5", "v2", None,
      None: Option[Timestamp], None: Option[Timestamp],
      ts("2026-07-01 00:00:00")))) // stale, skipped
    .toDF("file_id", "direct_link", "link_type", "fsentry_id",
      "api_creation_time", "api_modified_time", "last_updated")

  private def FakeFetch = FakeLinkApi

  test("stale queue = missing ∪ outdated, minus skips, with cached ids") {
    val q = LinkRefresh.staleQueue(filesDf, linksDf,
      skipPatterns = Seq("tmp-*")).collect()
    assert(q.map(_.getString(0)).toSet == Set("f1", "f3", "f4"))
    val f1 = q.find(_.getString(0) == "f1").get
    assert(f1.getString(2) == "fse-1") // cached fsentry_id carried
    assert(q.find(_.getString(0) == "f3").get.isNullAt(2))
  }

  test("refresh merges successes, keeps failures and fresh rows intact") {
    val r = LinkRefresh.refresh(spark, filesDf, linksDf, FakeFetch,
      version = 2, skipPatterns = Seq("tmp-*"), now = now)
    assert(r.refreshed == 2) // f1 + f3 (f4 failed, f5 skipped, f2 fresh)
    val rows = r.merged.collect()
      .map(x => x.getAs[String]("file_id") -> x).toMap
    assert(rows.keySet == Set("f1", "f2", "f3", "f4", "f5"))
    // f1: replaced (LWW), cached fsentry id reused by the v2 fetch,
    // API timestamps landed
    assert(rows("f1").getAs[String]("direct_link")
      .startsWith("https://fs.example/new"))
    assert(rows("f1").getAs[String]("fsentry_id") == "fse-1")
    assert(rows("f1").getAs[Timestamp]("last_updated") == now)
    assert(rows("f1").getAs[Timestamp]("api_creation_time") == apiCre)
    assert(rows("f1").getAs[Timestamp]("api_modified_time") == apiMod)
    // f3: newly inserted with a minted id
    assert(rows("f3").getAs[String]("fsentry_id")
      .startsWith("fse-minted-"))
    // f2 (fresh) and f4 (failed fetch) keep their original rows — and
    // their api timestamps stay null (never fetched this run)
    assert(rows("f2").getAs[String]("direct_link")
      == "https://fs.example/ok2")
    assert(rows("f2").getAs[Timestamp]("api_creation_time") == null)
    assert(rows("f4").getAs[String]("direct_link")
      == "https://fs.example/old4")
    // f5 (skip pattern) untouched
    assert(rows("f5").getAs[String]("direct_link")
      == "https://fs.example/old5")
  }

  test("pre-API-timestamp links store (5 columns) upgrades in place") {
    val root = Files.createTempDirectory("links-idx-legacy").toString
    val idx = new ParquetIndex(root)
    // old-format store: no api_creation_time/api_modified_time columns
    idx.write(linksDf.drop("api_creation_time", "api_modified_time"))
    val n1 = LinkRefresh.refreshIndex(spark, filesDf, idx, FakeFetch,
      version = 2, skipPatterns = Seq("tmp-*"), now = now)
    assert(n1 == 2)
    val healed = idx.read(spark).get
    // the store now carries the full schema, with fetched timestamps
    // populated and untouched rows as nulls
    assert(healed.columns.contains("api_modified_time"))
    val rows = healed.collect()
      .map(r => r.getAs[String]("file_id") -> r).toMap
    assert(rows("f1").getAs[Timestamp]("api_modified_time") == apiMod)
    assert(rows("f2").getAs[Timestamp]("api_modified_time") == null)
  }

  test("round-trip through the links ParquetIndex drains the queue") {
    val root = Files.createTempDirectory("links-idx").toString
    val idx = new ParquetIndex(root)
    idx.write(linksDf)
    val n1 = LinkRefresh.refreshIndex(spark, filesDf, idx, FakeFetch,
      version = 2, skipPatterns = Seq("tmp-*"), now = now)
    assert(n1 == 2)
    // re-run against the merged snapshot: every fetchable link is now
    // fresh (last_updated = now > every mtime) → the queue is empty
    // except the permanently-failing f4
    val idBefore = idx.currentId
    val n2 = LinkRefresh.refreshIndex(spark, filesDf, idx, FakeFetch,
      version = 2, skipPatterns = Seq("tmp-*"), now = now)
    assert(n2 == 0)
    // steady state: nothing refreshed, no orphans, schema current →
    // NO new snapshot written (full-store rewrite skipped)
    assert(idx.currentId == idBefore)
    val persisted = idx.read(spark).get
      .filter(col("file_id") === "f1").collect().head
    assert(persisted.getAs[Timestamp]("last_updated") == now)
    assert(persisted.getAs[Timestamp]("api_modified_time") == apiMod)
  }

  test("MOR-backed refresh: same store view as copy-on-write, but the " +
      "base snapshot is untouched and only the delta is written") {
    def withOrphan = linksDf.union(spark.createDataFrame(Seq(
      ("f9", "https://fs.example/dead", "v2", None: Option[String],
        None: Option[Timestamp], None: Option[Timestamp],
        ts("2026-07-01 00:00:00"))))
      .toDF(linksDf.columns.toIndexedSeq: _*))
    val idxC = new ParquetIndex(
      Files.createTempDirectory("links-cow").toString)
    val idxM = new ParquetIndex(
      Files.createTempDirectory("links-mor").toString)
    idxC.write(withOrphan)
    idxM.write(withOrphan)
    val baseId = idxM.currentId

    val nC = LinkRefresh.refreshIndex(spark, filesDf, idxC, FakeFetch,
      version = 2, skipPatterns = Seq("tmp-*"), now = now)
    val (nM, _) = LinkRefresh.refreshIndexMor(spark, filesDf, idxM,
      FakeFetch, version = 2, skipPatterns = Seq("tmp-*"), now = now)
    assert(nC == nM)
    // the MOR run appended to the log — the base snapshot was NOT
    // rewritten (write ∝ batch, the entire point)
    assert(idxM.currentId == baseId)
    val entries = idxM.morEntries(baseId.get)
    assert(entries.exists(_._1 == "u") && entries.exists(_._1 == "d"),
      entries.toString) // fetched delta + orphan delete sidecar
    def view(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    // resolved MOR view ≡ the copy-on-write snapshot, row for row
    // (incl. the dropped f9 orphan and untouched f2/f4/f5)
    assert(view(LinkRefresh.readLinksMor(spark, idxM).get) ==
      view(idxC.read(spark).get))
    // steady state: re-run fetches nothing and appends nothing
    val (n2, _) = LinkRefresh.refreshIndexMor(spark, filesDf, idxM,
      FakeFetch, version = 2, skipPatterns = Seq("tmp-*"), now = now)
    assert(n2 == 0)
    assert(idxM.morEntries(baseId.get).size == entries.size)
    // folding the log reproduces the CoW snapshot exactly
    idxM.checkpointMor(spark, "file_id", "last_updated",
      batchWinsTies = true): Unit
    assert(idxM.morEntries(idxM.currentId.get).isEmpty)
    assert(view(idxM.read(spark).get) == view(idxC.read(spark).get))
  }

  test("refreshIndexMor returns the store's post-refresh view, row for " +
      "row: fresh store, stale, failed, skipped and orphan rows, " +
      "reconcile off, and a checkpointEvery fold") {
    // f6: stale (its file moved after its link's stamp) but the stored
    // stamp is later than `now`, so the store's LWW keeps the old row
    val files = filesDf.union(spark.createDataFrame(Seq(
      ("f6", "/b/six.txt", ts("2026-09-01 00:00:00"))))
      .toDF(filesDf.columns.toIndexedSeq: _*))
    val links = linksDf.union(spark.createDataFrame(Seq(
      ("f6", "https://fs.example/future6", "v2", Some("fse-6"),
        None: Option[Timestamp], None: Option[Timestamp],
        ts("2026-08-15 00:00:00")),
      ("f9", "https://fs.example/dead", "v2", None: Option[String],
        None: Option[Timestamp], None: Option[Timestamp],
        ts("2026-07-01 00:00:00"))))
      .toDF(linksDf.columns.toIndexedSeq: _*))
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    def check(name: String, seed: Option[DataFrame], fetched: Long,
        reconcile: Boolean = true,
        every: Int = 16): (Seq[String], ParquetIndex) = {
      val idx = new ParquetIndex(
        Files.createTempDirectory("links-view").toString)
      seed.foreach(idx.write)
      val (n, after) = LinkRefresh.refreshIndexMor(spark, files, idx,
        FakeFetch, version = 2, skipPatterns = Seq("tmp-*"), now = now,
        reconcile = reconcile, checkpointEvery = every)
      assert(n == fetched, name)
      val got = rows(after)
      assert(got == rows(LinkRefresh.readLinksMor(spark, idx)
        .getOrElse(LinkRefresh.emptyLinks(spark))), name)
      (got, idx)
    }
    def ids(rs: Seq[String]) = rs.map(_.takeWhile(_ != '|')).toSet
    // fresh store: every file but the skipped f5 is queued; f4 fails
    // and has no old row, so it has no link at all
    assert(ids(check("fresh store", None, 4)._1) ==
      Set("f1", "f2", "f3", "f6"))
    // f1, f3 and f6 fetched; f4 failed (old row kept), f5 skipped, f2
    // fresh, f9 orphaned
    val (full, _) = check("stored", Some(links), 3)
    assert(ids(full) == Set("f1", "f2", "f3", "f4", "f5", "f6"))
    assert(full.exists(_.startsWith("f4|https://fs.example/old4")))
    assert(full.exists(_.startsWith("f6|https://fs.example/future6")))
    assert(ids(check("reconcile off", Some(links), 3,
      reconcile = false)._1) == ids(full) + "f9")
    // the fetched delta and the orphan sidecar reach 2 log entries:
    // the log folds into a new base, and the frame still equals it
    val (folded, idx) = check("fold", Some(links), 3, every = 2)
    assert(idx.morEntries(idx.currentId.get).isEmpty)
    assert(folded == full)
  }

  test("links for files gone from the scan are reconciled away") {
    val root = Files.createTempDirectory("links-idx-orph").toString
    val idx = new ParquetIndex(root)
    // f9 has a stored link but no longer appears in the scan → orphan
    val withOrphan = linksDf.union(spark.createDataFrame(Seq(
      ("f9", "https://fs.example/dead", "v2", None: Option[String],
        None: Option[Timestamp], None: Option[Timestamp],
        ts("2026-07-01 00:00:00"))))
      .toDF(linksDf.columns.toIndexedSeq: _*))
    idx.write(withOrphan)
    LinkRefresh.refreshIndex(spark, filesDf, idx, FakeFetch,
      version = 2, skipPatterns = Seq("tmp-*"), now = now)
    val ids = idx.read(spark).get.collect()
      .map(_.getAs[String]("file_id")).toSet
    assert(!ids.contains("f9")) // orphan dropped
    // links of still-present files survive (incl. skipped + failed ones)
    assert(ids == Set("f1", "f2", "f3", "f4", "f5"))
  }
}
