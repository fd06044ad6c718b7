package graft.pipeline

import java.nio.file.{Files, Path}

import graft.{SparkSpecBase, StageRecorder}
import graft.sinks.TransportProbe

/** A link fetch that counts its calls (tasks run in this JVM). */
private object CountingLinkFetch extends LinkRefresh.Fetch {
  val calls = new java.util.concurrent.atomic.AtomicLong
  def apply(fp: String, cached: Option[String]) = {
    calls.incrementAndGet()
    Some(LinkRefresh.FetchedLink(s"https://fs.example$fp",
      cached.orElse(Some("fse"))))
  }
}

/** End-to-end pipeline lifecycle (main.py:245-365 parity): scan → merge
  * → reconcile → publish, in both modes, with re-run update/delete
  * semantics.
  */
class IndexerSpec extends SparkSpecBase {

  private def mkTree(): Path = {
    val root = Files.createTempDirectory("idxr")
    Files.createDirectories(root.resolve("proj/sub"))
    Files.createDirectories(root.resolve(".git"))
    Files.writeString(root.resolve("proj/a.txt"), "aaaa")
    Files.writeString(root.resolve("proj/sub/b.log"), "bb")
    Files.writeString(root.resolve("proj/c.tmp"), "tmp!")
    Files.writeString(root.resolve(".git/conf"), "x")
    root
  }

  test("index-only mode: scan lands in the parquet snapshot") {
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxstore").toString
    val cfg = IndexerConfig(root.toString, idxRoot, mode = "index-only")
    val report = new Indexer(cfg, None).run(spark)

    assert(report.stats.files == 2) // a.txt + b.log (.tmp/.git skipped)
    assert(report.stats.dirs == 2)  // proj, proj/sub
    assert(report.stats.bytes == 6)
    assert(report.indexed == 0 && report.removed == 0)

    val snap = new graft.sinks.ParquetIndex(idxRoot).read(spark).get
    val paths = snap.collect().map(_.getAs[String]("relative_path")).toSet
    assert(paths == Set("proj", "proj/sub", "proj/a.txt", "proj/sub/b.log"))
    val exts = snap.collect().map(r =>
      r.getAs[String]("relative_path") -> r.getAs[String]("extension")).toMap
    assert(exts("proj/a.txt") == "txt")
  }

  test("elasticsearch mode publishes docs and deletes removed files") {
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxstore2").toString
    TransportProbe.reset()
    val cfg = IndexerConfig(root.toString, idxRoot)
    val r1 = new Indexer(cfg, Some(TransportProbe.transport)).run(spark)
    assert(r1.indexed == 4 && r1.esFailed == 0) // 2 files + 2 dirs

    // delete one file, touch another, re-run
    Files.delete(root.resolve("proj/sub/b.log"))
    Files.writeString(root.resolve("proj/a.txt"), "aaaaaaaa")
    TransportProbe.reset()
    val r2 = new Indexer(cfg, Some(TransportProbe.transport)).run(spark)
    assert(r2.removed >= 1) // b.log gone (its dir may empty out too)
    val snap = new graft.sinks.ParquetIndex(idxRoot).read(spark).get
    val sizes = snap.collect().map(r =>
      r.getAs[String]("relative_path") -> r.getAs[Long]("size_bytes")).toMap
    assert(sizes("proj/a.txt") == 8L)
    assert(!sizes.contains("proj/sub/b.log"))
    // directory size enrichment reached the sink payloads
    import scala.jdk.CollectionConverters._
    val sent = TransportProbe.calls.asScala.flatten.mkString("\n")
    assert(sent.contains("\"size\":"))
  }

  /** Replay captured bulk NDJSON into the ES state it produces, starting
    * from `from`: id → doc JSON (index overwrites, delete removes) — the
    * reference cluster's end state without a cluster. `last_seen` is
    * scan-time by CONTRACT (the reference restamps it on every
    * reconciliation), so it is stripped before comparison.
    */
  private def esState(calls: Seq[Seq[String]],
      from: Map[String, String] = Map.empty): Map[String, String] = {
    var st = from
    calls.flatten.foldLeft(Option.empty[String]) {
      (pendingId, line) =>
        if (line.startsWith("{\"index\":")) {
          Some(line.split("\"_id\":\"")(1).takeWhile(_ != '"'))
        } else if (line.startsWith("{\"delete\":")) {
          st -= line.split("\"_id\":\"")(1).takeWhile(_ != '"')
          None
        } else {
          pendingId.foreach(id => st += id ->
            line.replaceAll("\"last_seen\":\"[^\"]*\"", ""))
          None
        }
    }
    st
  }

  test("incremental scoped publish ≡ full republish (delete+resize+" +
      "add), and it sends only the delta") {
    import scala.jdk.CollectionConverters._
    val root = mkTree()
    Files.writeString(root.resolve("proj/sub/r.txt"), "rrr")
    val idxRoot = Files.createTempDirectory("idxinc").toString
    val cfg = IndexerConfig(root.toString, idxRoot,
      getDirectLinks = false)
    val indexer = new Indexer(cfg, Some(TransportProbe.transport))
    TransportProbe.reset()
    indexer.run(spark)
    val base = esState(TransportProbe.calls.asScala.toSeq)
    val fullCount = base.size

    // the scenario the verdict names: delete + resize + add, all under
    // proj/sub — proj's rolled total changes too, and proj is OUTSIDE
    // the scope
    Files.delete(root.resolve("proj/sub/b.log"))
    Files.writeString(root.resolve("proj/sub/r.txt"), "rrrrrrrr")
    Files.writeString(root.resolve("proj/sub/n.txt"), "nn")

    TransportProbe.reset()
    val rep = indexer.publishScoped(spark, Seq("proj/sub"))
    val incCalls = TransportProbe.calls.asScala.toSeq
    val incState = base -- incCalls.flatten
      .filter(_.startsWith("{\"delete\":"))
      .map(_.split("\"_id\":\"")(1).takeWhile(_ != '"')) ++
      esState(incCalls)
    assert(rep.removed == 1)

    // bit-for-bit reference: a fresh pipeline + full publish over the
    // mutated tree from scratch
    TransportProbe.reset()
    val refRoot = Files.createTempDirectory("idxref").toString
    new Indexer(IndexerConfig(root.toString, refRoot,
      getDirectLinks = false), Some(TransportProbe.transport)).run(spark)
    val full = esState(TransportProbe.calls.asScala.toSeq)

    assert(incState == full,
      "incremental ES state diverged from the full republish")
    // delta economics: the scoped publish indexed scope entries +
    // touched ancestors only — strictly fewer docs than the corpus
    val incIndexed = incCalls.flatten
      .count(_.startsWith("{\"index\":"))
    assert(incIndexed < fullCount,
      s"scoped publish sent $incIndexed docs, full corpus is $fullCount")
    // and proj (outside the scope, totals moved) WAS republished
    val projDoc = incState.values.find(_.contains("\"filepath\":\"/proj\""))
    assert(projDoc.isDefined, "ancestor outside the scope not republished")
  }

  test("rollup across full runs: the second run recomputes the stored " +
      "dir sizes and matches a from-scratch pipeline") {
    import scala.jdk.CollectionConverters._
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxfold").toString
    val cfg = IndexerConfig(root.toString, idxRoot,
      getDirectLinks = false)
    val indexer = new Indexer(cfg, Some(TransportProbe.transport))
    TransportProbe.reset()
    indexer.run(spark)
    // mutate, full re-run: the stored rollup is rebuilt over the new
    // corpus and re-stamped (same token discipline as the scoped path)
    Files.delete(root.resolve("proj/sub/b.log"))
    Files.writeString(root.resolve("proj/a.txt"), "aaaaaaaaaaaa")
    TransportProbe.reset()
    indexer.run(spark)
    val folded = esState(TransportProbe.calls.asScala.toSeq)
    TransportProbe.reset()
    val refRoot = Files.createTempDirectory("idxfoldref").toString
    new Indexer(IndexerConfig(root.toString, refRoot,
      getDirectLinks = false), Some(TransportProbe.transport)).run(spark)
    assert(folded == esState(TransportProbe.calls.asScala.toSeq))
  }

  test("watermark gate: a bare runScoped interlude makes publishScoped " +
      "refuse, and publishCatchUp repairs ES to full-republish parity " +
      "with delta-sized traffic") {
    import scala.jdk.CollectionConverters._
    val root = mkTree()
    Files.writeString(root.resolve("proj/sub/r.txt"), "rrr")
    val idxRoot = Files.createTempDirectory("idxwm").toString
    val cfg = IndexerConfig(root.toString, idxRoot,
      getDirectLinks = false)
    val indexer = new Indexer(cfg, Some(TransportProbe.transport))
    TransportProbe.reset()
    indexer.run(spark)
    val base = esState(TransportProbe.calls.asScala.toSeq)
    val fullCount = base.size

    // the drift hole (r14 advice): index WITHOUT publishing
    Files.delete(root.resolve("proj/sub/b.log"))
    Files.writeString(root.resolve("proj/sub/n.txt"), "nn")
    indexer.runScoped(spark, Seq("proj/sub")) // store moves, ES doesn't

    // a later scoped publish of a DIFFERENT scope must refuse — it
    // would silently leave proj/sub stale in ES forever
    Files.writeString(root.resolve("proj/a.txt"), "aaaaaaaa")
    val ex = intercept[IllegalArgumentException] {
      indexer.publishScoped(spark, Seq("proj"))
    }
    assert(ex.getMessage.contains("publishCatchUp"))

    // catch-up: replays the MOR log suffix — ES converges to exactly
    // the full-republish state of the store's CURRENT resolve
    TransportProbe.reset()
    val rep = indexer.publishCatchUp(spark)
    assert(rep.removed == 1) // b.log
    val cuCalls = TransportProbe.calls.asScala.toSeq
    val cuState = base -- cuCalls.flatten
      .filter(_.startsWith("{\"delete\":"))
      .map(_.split("\"_id\":\"")(1).takeWhile(_ != '"')) ++
      esState(cuCalls)
    // note proj/a.txt's resize has NOT been indexed yet (the refused
    // publishScoped never ran) — parity is vs a store-state republish,
    // so rescan it first via the now-unblocked scoped publish
    TransportProbe.reset()
    indexer.publishScoped(spark, Seq("proj"))
    val finalState = cuState -- TransportProbe.calls.asScala.toSeq
      .flatten.filter(_.startsWith("{\"delete\":"))
      .map(_.split("\"_id\":\"")(1).takeWhile(_ != '"')) ++
      esState(TransportProbe.calls.asScala.toSeq)

    TransportProbe.reset()
    val refRoot = Files.createTempDirectory("idxwmref").toString
    new Indexer(IndexerConfig(root.toString, refRoot,
      getDirectLinks = false), Some(TransportProbe.transport)).run(spark)
    val full = esState(TransportProbe.calls.asScala.toSeq)
    assert(finalState == full,
      "catch-up + scoped publish diverged from the full republish")
    // delta economics: the catch-up sent the churn, not the corpus
    val cuIndexed = cuCalls.flatten.count(_.startsWith("{\"index\":"))
    assert(cuIndexed < fullCount,
      s"catch-up sent $cuIndexed docs, full corpus is $fullCount")
    // idempotent no-op when current: zero traffic
    TransportProbe.reset()
    val noop = indexer.publishCatchUp(spark)
    assert(noop.indexed == 0 && noop.removed == 0)
    assert(TransportProbe.calls.asScala.flatten.isEmpty)
  }

  test("a full run AFTER a scoped interlude folds the pending MOR log " +
      "and must not read it out from under its own lazy frames") {
    import scala.jdk.CollectionConverters._
    // the PublishProbe crash (r16): run() consumed (deleted) the old
    // base's MOR log at commit, while the deletion anti-join and the
    // rollup maintainer still lazily referenced the pre-write readMor
    // resolve — FAILED_READ_FILE mid-run. The log sweep now waits for
    // the end of run().
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxral").toString
    val cfg = IndexerConfig(root.toString, idxRoot,
      getDirectLinks = false)
    val indexer = new Indexer(cfg, Some(TransportProbe.transport))
    indexer.run(spark)
    // scoped interlude: the store moves through the MOR log
    Files.delete(root.resolve("proj/sub/b.log"))
    Files.writeString(root.resolve("proj/sub/n.txt"), "nn")
    indexer.runScoped(spark, Seq("proj/sub"))
    // full re-run over a further-mutated tree: pre-fix this threw
    // FAILED_READ_FILE on the consumed log's delete batch
    Files.writeString(root.resolve("proj/a.txt"), "aaaaaaaa")
    TransportProbe.reset()
    val rep = indexer.run(spark)
    assert(rep.esFailed == 0)
    val state = esState(TransportProbe.calls.asScala.toSeq)
    // parity: a fresh pipeline over the same final tree
    TransportProbe.reset()
    val refRoot = Files.createTempDirectory("idxralref").toString
    new Indexer(IndexerConfig(root.toString, refRoot,
      getDirectLinks = false), Some(TransportProbe.transport)).run(spark)
    assert(state == esState(TransportProbe.calls.asScala.toSeq),
      "run-after-scoped diverged from a from-scratch pipeline")
    // and the superseded log was swept by the end of the run
    val morDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(idxRoot)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("mor-")).toList
    val cur = new graft.sinks.ParquetIndex(idxRoot).currentId.get
    assert(morDirs.forall(_ == s"mor-$cur"),
      s"orphan MOR logs survived the sweep: $morDirs")
  }

  /** The resolved files store plus the dirSizes rollup beside it, as
    * comparable sets — `last_seen` is scan time by contract, so left
    * out.
    */
  private def storeState(idxRoot: String) = {
    val files = new graft.sinks.ParquetIndex(idxRoot)
      .readMor(spark, "relative_path", "modified_time").get
      .select("relative_path", "id", "type", "size_bytes",
        "modified_time", "name", "extension")
      .collect().map(_.toSeq).toSet
    val sizes = new graft.sinks.ParquetIndex(s"$idxRoot/dirsizes")
      .read(spark).get.collect().map(_.toSeq).toSet
    (files, sizes)
  }

  /** Full run, then `runScoped(scope)` with no tree change in between:
    * the store must equal a from-scratch full run's.
    */
  private def assertScopedParity(root: Path, scope: String): Unit = {
    val cfg = (idx: String) => IndexerConfig(root.toString, idx,
      getDirectLinks = false)
    val idxRoot = Files.createTempDirectory("idxsym").toString
    val indexer = new Indexer(cfg(idxRoot), Some(TransportProbe.transport))
    indexer.run(spark)
    indexer.runScoped(spark, Seq(scope))
    val refRoot = Files.createTempDirectory("idxsymref").toString
    new Indexer(cfg(refRoot), Some(TransportProbe.transport)).run(spark)
    assert(storeState(idxRoot) == storeState(refRoot),
      s"runScoped($scope) diverged from a full rescan")
  }

  private def symlinkTree(): Path = {
    val root = mkTree()
    Files.createDirectories(root.resolve("proj/x"))
    Files.writeString(root.resolve("proj/x/t.txt"), "ttt")
    Files.createSymbolicLink(root.resolve("b"), root.resolve("proj"))
    root
  }

  test("runScoped on a symlinked dir keeps the link's own file row, " +
      "as a full run does") {
    val root = symlinkTree()
    assertScopedParity(root, "b")
    val idxRoot = Files.createTempDirectory("idxsymrow").toString
    val indexer = new Indexer(IndexerConfig(root.toString, idxRoot,
      mode = "index-only"), None)
    indexer.run(spark)
    indexer.runScoped(spark, Seq("b"))
    val rows = new graft.sinks.ParquetIndex(idxRoot)
      .readMor(spark, "relative_path", "modified_time").get
      .collect().map(r => r.getAs[String]("relative_path") ->
        ((r.getAs[String]("type"), r.getAs[Long]("size_bytes"))))
      .toMap
    // lstat values: the link's own size (its target path's length)
    assert(rows.get("b") == Some(("file",
      Files.readAttributes(root.resolve("b"),
        classOf[java.nio.file.attribute.BasicFileAttributes],
        java.nio.file.LinkOption.NOFOLLOW_LINKS).size())))
  }

  test("runScoped under a symlinked dir never follows the link") {
    val root = symlinkTree()
    assertScopedParity(root, "b/x")
    val idxRoot = Files.createTempDirectory("idxsymsub").toString
    val indexer = new Indexer(IndexerConfig(root.toString, idxRoot,
      mode = "index-only"), None)
    indexer.run(spark)
    assert(indexer.runScoped(spark, Seq("b/x")) == 0L)
    val paths = new graft.sinks.ParquetIndex(idxRoot)
      .readMor(spark, "relative_path", "modified_time").get
      .collect().map(_.getAs[String]("relative_path")).toSet
    assert(!paths.exists(_.startsWith("b/")), paths)
  }

  test("runScoped walks only its scope: a sibling sharing the name " +
      "prefix keeps its stored rows") {
    val root = mkTree()
    Files.createDirectories(root.resolve("projx"))
    Files.writeString(root.resolve("projx/k.txt"), "kk")
    val idxRoot = Files.createTempDirectory("idxsib").toString
    val indexer = new Indexer(IndexerConfig(root.toString, idxRoot,
      mode = "index-only"), None)
    indexer.run(spark)
    // a change under the sibling that the proj event must not pick up
    Files.writeString(root.resolve("projx/new.txt"), "nn")
    // proj, proj/a.txt, proj/sub, proj/sub/b.log
    assert(indexer.runScoped(spark, Seq("proj")) == 4L)
    val paths = new graft.sinks.ParquetIndex(idxRoot)
      .readMor(spark, "relative_path", "modified_time").get
      .collect().map(_.getAs[String]("relative_path")).toSet
    assert(paths.contains("projx/k.txt") && !paths.contains("projx/new.txt"))
  }

  test("a run walks the tree once: the deletion reconcile reads the " +
      "committed snapshot, not the listing") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxonce").toString
    val indexer = new Indexer(IndexerConfig(root.toString, idxRoot,
      mode = "index-only"), None)
    indexer.run(spark)
    Files.delete(root.resolve("proj/sub/b.log"))
    val drain = "walk-once spec: drain"
    val drained = new java.util.concurrent.CountDownLatch(1)
    val rdds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.job.description"))
          .foreach {
            case "indexer: deletion reconcile" =>
              js.stageInfos.flatMap(_.rddInfos).foreach(r => rdds.add(
                s"${r.name} @ ${r.callSite} " +
                  r.scope.map(_.name).getOrElse("")))
            case `drain` => drained.countDown()
            case _ =>
          }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(indexer.run(spark).removed == 1)
      // listener events arrive asynchronously and in order: once the
      // marker job is seen, every reconcile job has been too
      spark.sparkContext.setJobDescription(drain)
      try spark.range(1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    val seen = rdds.asScala.toSeq
    assert(seen.nonEmpty, "no deletion reconcile job observed")
    assert(!seen.exists(_.toLowerCase.contains("fslisting")),
      seen.mkString("\n"))
  }

  test("runScoped with an empty (or drained) scope list is a zero-entry " +
      "no-op, not a crash") {
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxempty").toString
    val cfg = IndexerConfig(root.toString, idxRoot, mode = "index-only")
    val indexer = new Indexer(cfg, None)
    indexer.run(spark)
    // an event-driven caller's debounced batch can drain to empty —
    // pre-r16 this threw (reduce over an empty predicate list) when
    // the rollup token was current, which it is right after run()
    assert(indexer.runScoped(spark, Seq.empty) == 0L)
    // the store is untouched
    val snap = new graft.sinks.ParquetIndex(idxRoot).read(spark).get
    assert(snap.count() == 4)
  }

  test("assertPublished bootstraps a missing watermark so scoped " +
      "publishes run without a forced full republish") {
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxboot").toString
    val cfg = IndexerConfig(root.toString, idxRoot,
      getDirectLinks = false)
    val indexer = new Indexer(cfg, Some(TransportProbe.transport))
    TransportProbe.reset()
    indexer.run(spark)
    // simulate a store published before the watermark existed: the
    // token file is simply absent
    val wm = java.nio.file.Paths.get(idxRoot, "_es_published")
    Files.delete(wm)
    Files.writeString(root.resolve("proj/sub/b.log"), "bbbb")
    intercept[IllegalArgumentException] {
      indexer.publishScoped(spark, Seq("proj/sub"))
    }
    // the operator knows ES is in fact current → stamp and proceed
    val stamped = indexer.assertPublished(spark)
    assert(Files.readString(wm).trim == stamped)
    val rep = indexer.publishScoped(spark, Seq("proj/sub"))
    assert(rep.esFailed == 0 && rep.indexed > 0)
  }

  test("watermark survives a MOR fold: checkpointScoped migrates it, " +
      "publishScoped still runs") {
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxwmfold").toString
    val cfg = IndexerConfig(root.toString, idxRoot,
      getDirectLinks = false)
    val indexer = new Indexer(cfg, Some(TransportProbe.transport))
    TransportProbe.reset()
    indexer.run(spark)
    // published scoped transition, then a fold (token changes, the
    // resolved view — and what ES saw — does not)
    Files.writeString(root.resolve("proj/sub/x.txt"), "xx")
    indexer.publishScoped(spark, Seq("proj/sub"))
    assert(indexer.checkpointScoped(spark).isDefined)
    // without migration this would refuse with a stale watermark
    Files.writeString(root.resolve("proj/sub/x.txt"), "xxxx")
    val rep = indexer.publishScoped(spark, Seq("proj/sub"))
    assert(rep.esFailed == 0 && rep.indexed > 0)
  }

  test("elasticsearch mode ensures the index exists BEFORE bulk calls") {
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxstore3").toString
    TransportProbe.reset()
    val adminCalls =
      scala.collection.mutable.Buffer.empty[(String, String)]
    val admin = new graft.sinks.EsAdmin.Transport {
      def apply(m: String, p: String, b: Option[String]) = {
        adminCalls += ((m, p))
        if (m == "HEAD") (404, "") else (200, """{"acknowledged":true}""")
      }
    }
    val cfg = IndexerConfig(root.toString, idxRoot)
    val r = new Indexer(cfg, Some(TransportProbe.transport),
      Some(admin)).run(spark)
    assert(r.indexed == 4)
    // create-before-bulk: HEAD → PUT mapping, on the configured index
    assert(adminCalls == Seq(("HEAD", "/files"), ("PUT", "/files")))
  }

  test("elasticsearch mode refreshes direct links and publishes them") {
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxstore4").toString
    TransportProbe.reset()
    val fetch = new LinkRefresh.Fetch {
      def apply(fp: String, cached: Option[String]) =
        Some(LinkRefresh.FetchedLink(
          s"https://fs.example/link-of${fp.length}", Some("fse-x"),
          apiCreationTime =
            Some(java.sql.Timestamp.valueOf("2026-06-01 08:00:00")),
          apiModifiedTime =
            Some(java.sql.Timestamp.valueOf("2026-06-15 09:30:00"))))
    }
    val cfg = IndexerConfig(root.toString, idxRoot)
    val r1 = new Indexer(cfg, Some(TransportProbe.transport),
      linkFetch = Some(fetch)).run(spark)
    assert(r1.linksRefreshed == 2) // a.txt + b.log (skips never queued)
    // the publish payloads carry the fetched links (J8) and the full
    // reference document field surface
    import scala.jdk.CollectionConverters._
    val sent = TransportProbe.calls.asScala.flatten.mkString("\n")
    assert(sent.contains("https://fs.example/link-of"))
    Seq("\"extension\":", "\"creation_time\":", "\"last_seen\":",
      "\"fsentry_id\":", "\"filepath\":", "\"size\":")
      .foreach(f => assert(sent.contains(f), f))
    // the mapping-declared API timestamps reach the bulk payload
    // (test_api_timestamps.py:161-170 round-trip scenario)
    assert(sent.contains("\"api_creation_time\":\"2026-06-01T08:00:00\""))
    assert(sent.contains("\"api_modified_time\":\"2026-06-15T09:30:00\""))
    // immediate re-run: every link is fresh — the queue is drained
    val r2 = new Indexer(cfg, Some(TransportProbe.transport),
      linkFetch = Some(fetch)).run(spark)
    assert(r2.linksRefreshed == 0)
    // touching a file re-queues exactly that file
    Files.writeString(root.resolve("proj/a.txt"), "changed!!")
    Thread.sleep(1100) // fs mtime granularity can be 1 s
    val r3 = new Indexer(cfg, Some(TransportProbe.transport),
      linkFetch = Some(fetch)).run(spark)
    assert(r3.linksRefreshed == 1)
  }

  /** 15 files, 5 in each of the top-level dirs a, b and c. */
  private def mkLinkTree(): Path = {
    val root = Files.createTempDirectory("idxlinks")
    for (d <- Seq("a", "b", "c"); i <- 0 until 5) {
      Files.createDirectories(root.resolve(d))
      Files.writeString(root.resolve(s"$d/f$i.txt"), s"$d$i")
    }
    root
  }

  test("a catch-up publish keeps the links of files outside its delta, " +
      "so the next unchanged full run fetches nothing") {
    val root = mkLinkTree()
    val idxRoot = Files.createTempDirectory("idxlinksstore").toString
    val indexer = new Indexer(IndexerConfig(root.toString, idxRoot),
      Some(TransportProbe.transport), linkFetch = Some(CountingLinkFetch))
    def live = LinkRefresh.readLinksMor(spark,
      new graft.sinks.ParquetIndex(s"$idxRoot/links")).get.count()
    def fetched(body: => Any): Long = {
      CountingLinkFetch.calls.set(0)
      body
      CountingLinkFetch.calls.get
    }
    TransportProbe.reset()
    assert(fetched(indexer.run(spark)) == 15 && live == 15)
    Thread.sleep(1100) // fs mtime granularity can be 1 s
    Files.writeString(root.resolve("a/f1.txt"), "changed")
    assert(fetched(indexer.publishScoped(spark, Seq("a"))) == 1)
    assert(live == 15, "the catch-up tombstoned links outside its delta")
    assert(fetched(indexer.run(spark)) == 0)
    assert(live == 15)
  }

  /** Jobs per step of a warm elasticsearch-mode rescan of
    * [[mkLinkTree]] after one delete, one rewrite and one add — each
    * with why it costs that many. Adaptive execution runs every
    * exchange and broadcast as a job of its own.
    */
  private val RescanJobs: Map[String, (Int, String)] = Map(
    "scan + merge + snapshot write" -> (4, "the merge join's two key " +
      "exchanges, the write's partition exchange, and the write"),
    "deletion reconcile" -> (2, "the anti-join's build side and its " +
      "checkpoint; the removed-id count rides it as an observation"),
    "link refresh" -> (5, "the links-vs-files full-outer join's two " +
      "exchanges, the one checkpoint that marks every key and fetches " +
      "the stale ones, the delta write and the orphan sidecar write"),
    "dirSizes rollup maintenance" -> (2, "the recompute's partial-" +
      "aggregate exchange and the rollup write — no prev-vs-current diff"),
    "publish: bulk index" -> (3, "the rollup and link broadcasts and " +
      "the bulk sink; the links come from the refresh's checkpoint"),
    "publish: bulk delete" -> (1, "the bulk sink over the checkpointed " +
      "removed ids"))

  test("a warm rescan runs the pinned jobs per step, none of them " +
      "unlabelled") {
    val root = mkLinkTree()
    val idxRoot = Files.createTempDirectory("idxjobs").toString
    val indexer = new Indexer(IndexerConfig(root.toString, idxRoot),
      Some(TransportProbe.transport), linkFetch = Some(CountingLinkFetch))
    TransportProbe.reset()
    indexer.run(spark)
    Thread.sleep(1100) // fs mtime granularity can be 1 s
    Files.delete(root.resolve("b/f0.txt"))
    Files.writeString(root.resolve("a/f1.txt"), "changed")
    Files.writeString(root.resolve("c/new.txt"), "new")
    val (r, stages) = StageRecorder.recording(spark)(indexer.run(spark))
    assert(r.removed == 1 && r.linksRefreshed == 2)
    val jobs = stages.groupBy(_.job).map { case (label, ss) =>
      label -> ss.map(_.jobId).distinct.size }
    val table = StageRecorder.table(stages).mkString("\n")
    assert(!jobs.contains(""), s"unlabelled jobs:\n$table")
    assert(jobs == RescanJobs.map { case (k, (n, _)) => s"indexer: $k" -> n },
      s"${jobs.toSeq.sorted.mkString("\n")}\n$table")
  }

  /** The jobs `body` ran per job label ("" = unlabelled), and their
    * stage table for a failure message.
    */
  private def jobsPerLabel[T](body: => T): (T, Map[String, Int], String) = {
    val (r, stages) = StageRecorder.recording(spark)(body)
    (r, stages.groupBy(_.job).map { case (label, ss) =>
      label -> ss.map(_.jobId).distinct.size },
      StageRecorder.table(stages).mkString("\n"))
  }

  /** [[RescanJobs]] for a SECOND warm rescan, whose links store still
    * holds the first rescan's orphan delete sidecar: the links resolve
    * drops the sidecar's keys with one anti-join, so the pending delete
    * costs it one broadcast job and no key aggregate.
    */
  private val SecondRescanJobs: Map[String, (Int, String)] = RescanJobs +
    ("link refresh" -> (6, "the first rescan's 5, plus the broadcast of " +
      "the pending delete sidecar the links resolve anti-joins against"))

  test("a second warm rescan, over the first rescan's link delete " +
      "sidecar, runs the pinned jobs per step") {
    val root = mkLinkTree()
    val idxRoot = Files.createTempDirectory("idxjobs2").toString
    val indexer = new Indexer(IndexerConfig(root.toString, idxRoot),
      Some(TransportProbe.transport), linkFetch = Some(CountingLinkFetch))
    TransportProbe.reset()
    indexer.run(spark)
    Thread.sleep(1100) // fs mtime granularity can be 1 s
    Files.delete(root.resolve("b/f0.txt"))
    Files.writeString(root.resolve("a/f1.txt"), "changed")
    Files.writeString(root.resolve("c/new.txt"), "new")
    indexer.run(spark) // appends b/f0's link to a delete sidecar
    Thread.sleep(1100)
    Files.delete(root.resolve("b/f1.txt"))
    Files.writeString(root.resolve("a/f2.txt"), "changed")
    Files.writeString(root.resolve("c/new2.txt"), "new")
    val (r, jobs, table) = jobsPerLabel(indexer.run(spark))
    assert(r.removed == 1 && r.linksRefreshed == 2)
    assert(jobs == SecondRescanJobs.map { case (k, (n, _)) =>
      s"indexer: $k" -> n }, s"${jobs.toSeq.sorted.mkString("\n")}\n$table")
  }

  /** Classes code generation may compile during a THIRD warm rescan of
    * [[mkLinkTree]] (4 measured; 51 with Spark's codegen defaults): the
    * earlier runs compiled the stages this one plans, and graft
    * sessions keep those classes and leave stage ids out of their names
    * (`GraftExtensions.codegenDefaults`). The residue is
    * [[Indexer.normalize]]'s `last_seen`: its `current_timestamp()`
    * folds to a per-run literal that is inlined into the generated
    * source of the stages that read it (2 classes a run); and the links
    * store's log, one entry longer each run, whose resolve unions one
    * more scan than any earlier run planned.
    */
  private val ThirdRescanCompiles = 6L

  test("a third warm rescan compiles no more than the pinned classes") {
    val root = mkLinkTree()
    val idxRoot = Files.createTempDirectory("idxcompiles").toString
    val indexer = new Indexer(IndexerConfig(root.toString, idxRoot),
      Some(TransportProbe.transport), linkFetch = Some(CountingLinkFetch))
    TransportProbe.reset()
    indexer.run(spark)
    def churnAndRescan(i: Int): Long = {
      Thread.sleep(1100) // fs mtime granularity can be 1 s
      Files.delete(root.resolve(s"b/f$i.txt"))
      Files.writeString(root.resolve(s"a/f$i.txt"), "changed")
      Files.writeString(root.resolve(s"c/new$i.txt"), "new")
      val c0 = graft.Bench.compiles
      val r = indexer.run(spark)
      assert(r.removed == 1 && r.linksRefreshed == 2)
      graft.Bench.compiles - c0
    }
    val compiled = (0 until 3).map(churnAndRescan)
    assert(compiled.last <= ThirdRescanCompiles,
      s"compiles per rescan: ${compiled.mkString(", ")}")
  }

  /** Jobs per step of a [[Indexer.publishCatchUp]] after a bare
    * [[Indexer.runScoped]] of `a` in [[mkLinkTree]] (one delete, one
    * rewrite, one add) — each with why it costs that many. The
    * runScoped patched the stored rollup and stamped its token, so the
    * publish reads it as-is: no `dirSizes rollup maintenance` job.
    */
  private val CatchUpJobs: Map[String, (Int, String)] = Map(
    "catch-up delta" -> (15, "touched keys: the distinct's exchange and " +
      "its checkpoint (2); the watermarked rows of the touched keys and " +
      "their ancestors: the key broadcast and the checkpoint (2); their " +
      "current rows, the key semi-join pushed below the resolve: the key " +
      "broadcast, the delete sidecar's broadcast, the winner aggregate's " +
      "exchange over those keys only and the checkpoint (4); the delta: " +
      "the change feed's full-outer join (2 exchanges), the ancestor " +
      "aggregate's exchange, the broadcast of the touched and moved keys " +
      "and the checkpoint (5); removed ids: the anti-join's broadcast and " +
      "the checkpoint, which carries the count (2) — no checkpoint of " +
      "the whole resolved store"),
    "link refresh" -> (4, "the links-vs-delta full-outer join's two " +
      "exchanges, the mark-and-fetch checkpoint and the delta write; no " +
      "orphan sidecar, since a delta must not reconcile"),
    "publish: bulk index" -> (3, "the rollup and link broadcasts and " +
      "the bulk sink"),
    "publish: bulk delete" -> (1, "the bulk sink over the checkpointed " +
      "removed ids"))

  test("a catch-up after a bare runScoped runs the pinned jobs per " +
      "step, none of them unlabelled") {
    val root = mkLinkTree()
    val idxRoot = Files.createTempDirectory("idxjobscu").toString
    val indexer = new Indexer(IndexerConfig(root.toString, idxRoot),
      Some(TransportProbe.transport), linkFetch = Some(CountingLinkFetch))
    TransportProbe.reset()
    indexer.run(spark)
    Thread.sleep(1100) // fs mtime granularity can be 1 s
    Files.delete(root.resolve("a/f0.txt"))
    Files.writeString(root.resolve("a/f1.txt"), "changed")
    Files.writeString(root.resolve("a/new.txt"), "new")
    indexer.runScoped(spark, Seq("a"))
    val (r, jobs, table) = jobsPerLabel(indexer.publishCatchUp(spark))
    assert(r.removed == 1 && r.linksRefreshed == 2 && r.esFailed == 0)
    assert(!jobs.contains(""), s"unlabelled jobs:\n$table")
    assert(jobs == CatchUpJobs.map { case (k, (n, _)) =>
      s"indexer: $k" -> n }, s"${jobs.toSeq.sorted.mkString("\n")}\n$table")
  }

  private def docId(filepath: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(filepath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  test("a rejected batch keeps the watermark behind: the next scoped " +
      "publish refuses, and the catch-up re-sends to full parity") {
    import scala.jdk.CollectionConverters._
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxreject").toString
    val cfg = IndexerConfig(root.toString, idxRoot,
      getDirectLinks = false)
    val indexer = new Indexer(cfg, Some(TransportProbe.transport))
    TransportProbe.reset()
    indexer.run(spark)
    val base = esState(TransportProbe.calls.asScala.toSeq)
    Files.delete(root.resolve("proj/sub/b.log"))
    Files.writeString(root.resolve("proj/sub/n.txt"), "nn")
    // the cluster rejects the new file's doc; everything else lands
    val rejected = docId("/proj/sub/n.txt")
    TransportProbe.reset()
    TransportProbe.failIds = Set(rejected)
    val rep = indexer.publishScoped(spark, Seq("proj/sub"))
    assert(rep.esFailed > 0)
    val partial =
      esState(TransportProbe.calls.asScala.toSeq, from = base) - rejected
    TransportProbe.reset()
    val ex = intercept[IllegalArgumentException] {
      indexer.publishScoped(spark, Seq("proj/sub"))
    }
    assert(ex.getMessage.contains("publishCatchUp"))
    val cu = indexer.publishCatchUp(spark)
    assert(cu.esFailed == 0)
    val healed = esState(TransportProbe.calls.asScala.toSeq, from = partial)
    assert(healed.contains(rejected))
    TransportProbe.reset()
    val refRoot = Files.createTempDirectory("idxrejectref").toString
    new Indexer(IndexerConfig(root.toString, refRoot,
      getDirectLinks = false), Some(TransportProbe.transport)).run(spark)
    assert(healed == esState(TransportProbe.calls.asScala.toSeq),
      "the catch-up after a rejected batch diverged from a full republish")
  }

  test("a catch-up over a stale rollup token recomputes the dir sizes: " +
      "ES and the stored rollup match a from-scratch pipeline") {
    import scala.jdk.CollectionConverters._
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxstale").toString
    val cfg = IndexerConfig(root.toString, idxRoot,
      getDirectLinks = false)
    val indexer = new Indexer(cfg, Some(TransportProbe.transport))
    TransportProbe.reset()
    indexer.run(spark)
    val base = esState(TransportProbe.calls.asScala.toSeq)
    // the token no longer names the store: runScoped leaves the rollup
    // unpatched, and the catch-up must not read its old totals
    Files.delete(java.nio.file.Paths.get(idxRoot, "dirsizes",
      "_corpus_token"))
    Files.delete(root.resolve("proj/sub/b.log"))
    Files.writeString(root.resolve("proj/sub/n.txt"), "nnnnnnnnn")
    indexer.runScoped(spark, Seq("proj/sub"))
    TransportProbe.reset()
    assert(indexer.publishCatchUp(spark).esFailed == 0)
    val state = esState(TransportProbe.calls.asScala.toSeq, from = base)
    TransportProbe.reset()
    val refRoot = Files.createTempDirectory("idxstaleref").toString
    new Indexer(IndexerConfig(root.toString, refRoot,
      getDirectLinks = false), Some(TransportProbe.transport)).run(spark)
    assert(state == esState(TransportProbe.calls.asScala.toSeq),
      "the catch-up over a stale rollup diverged from a full republish")
    assert(storeState(idxRoot)._2 == storeState(refRoot)._2,
      "the stored rollup differs from a recompute")
  }

  test("change-feed consumer maintains an aggregate across pipeline runs") {
    import graft.operators.IncrementalView
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxstore_ivm").toString
    val cfg = IndexerConfig(root.toString, idxRoot, mode = "index-only")
    val ix = new Indexer(cfg, None)
    val groupCols = Seq("type", "extension")
    val sumCols = Seq("size_bytes")

    val r1 = ix.run(spark)
    val store = new graft.sinks.ParquetIndex(idxRoot)
    var view = IncrementalView
      .fromScratch(store.read(spark).get, groupCols, sumCols)
      .localCheckpoint(true)

    // mutate the tree: add d.md, grow b.log (bump mtime so the merge's
    // newer-wins rule takes the row), delete a.txt
    Files.writeString(root.resolve("proj/d.md"), "ddd")
    Files.writeString(root.resolve("proj/sub/b.log"), "bbbbbb")
    Files.setLastModifiedTime(root.resolve("proj/sub/b.log"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 3600 * 1000))
    Files.delete(root.resolve("proj/a.txt"))
    val r2 = ix.run(spark)

    val feed = store.changeFeed(spark, r1.snapshotId, r2.snapshotId,
      "relative_path", includeOld = true).get
    view = IncrementalView.applyFeed(view, feed, groupCols, sumCols)
      .localCheckpoint(true)

    val oracle = IncrementalView
      .fromScratch(store.read(spark).get, groupCols, sumCols)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), Option(r.getString(1)),
        r.getLong(2), r.getLong(3))).toSet
    assert(rows(view) == rows(oracle))
    // the folded view saw the add (md appears), the delete (txt group
    // emptied to count 0 and dropped), and the in-place growth
    val byExt = rows(view).map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(byExt(("file", Some("md"))) == ((1L, 3L)))
    assert(!byExt.contains(("file", Some("txt"))))
    assert(byExt(("file", Some("log"))) == ((1L, 6L)))
  }

  test("one snapshot write per run (merge+reconcile composed)") {
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxstore5")
    val cfg = IndexerConfig(root.toString, idxRoot.toString,
      mode = "index-only")
    new Indexer(cfg, None).run(spark)
    def snapCount = {
      val s = Files.list(idxRoot)
      try s.filter(p => p.getFileName.toString.startsWith("snap-")).count()
      finally s.close()
    }
    assert(snapCount == 1L) // not the old merge-then-reconcile pair
    Files.delete(root.resolve("proj/sub/b.log"))
    val r2 = new Indexer(cfg, None).run(spark)
    assert(snapCount == 2L) // exactly one more (keep=2 window intact)
    assert(r2.removed >= 1)
    val snap = new graft.sinks.ParquetIndex(idxRoot.toString,
      partitionBy = Seq(graft.sinks.ParquetIndex.PathPartitionCol))
      .read(spark).get
    val paths = snap.collect().map(_.getAs[String]("relative_path")).toSet
    assert(!paths.contains("proj/sub/b.log")) // reconcile still applied
    assert(paths.contains("proj/a.txt"))
  }

  test("snapshots are partitioned by first path segment") {
    val root = mkTree()
    Files.createDirectories(root.resolve("other"))
    Files.writeString(root.resolve("other/z.txt"), "zz")
    val idxRoot = Files.createTempDirectory("idxstore6")
    val cfg = IndexerConfig(root.toString, idxRoot.toString,
      mode = "index-only")
    new Indexer(cfg, None).run(spark)
    val idx = new graft.sinks.ParquetIndex(idxRoot.toString,
      partitionBy = Seq(graft.sinks.ParquetIndex.PathPartitionCol))
    val snapDir = idxRoot.resolve(s"snap-${idx.currentId.get}")
    import scala.jdk.CollectionConverters._
    val partDirs = {
      val s = Files.list(snapDir)
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSet
      finally s.close()
    }
    // hash-bucketed partition values (charset-safe, ≤256 dirs)
    val b = graft.sinks.ParquetIndex.pathPartitionValue _
    assert(partDirs == Set(s"p0=${b("proj")}", s"p0=${b("other")}"))
  }

  test("legacy unpartitioned snapshot (no p0, no sidecar) migrates") {
    val root = mkTree()
    val idxRoot = Files.createTempDirectory("idxlegacy")
    // build a store, then rewrite it in the PRE-partitioning format:
    // no p0 column, no partition dirs, no _SCHEMA.ddl sidecar
    val cfg = IndexerConfig(root.toString, idxRoot.toString,
      mode = "index-only")
    new Indexer(cfg, None).run(spark)
    val pidx = new graft.sinks.ParquetIndex(idxRoot.toString,
      partitionBy = Seq(graft.sinks.ParquetIndex.PathPartitionCol))
    val current = pidx.read(spark).get.drop(
      graft.sinks.ParquetIndex.PathPartitionCol).localCheckpoint(true)
    val legacyRoot = Files.createTempDirectory("idxlegacy2")
    val legacyIdx = new graft.sinks.ParquetIndex(legacyRoot.toString)
    val legacyId = legacyIdx.write(current)
    Files.delete(legacyRoot.resolve(s"snap-$legacyId/_SCHEMA.ddl"))
    // a run against the legacy store must succeed AND migrate it to
    // the partitioned layout
    val cfg2 = IndexerConfig(root.toString, legacyRoot.toString,
      mode = "index-only")
    val r = new Indexer(cfg2, None).run(spark)
    assert(r.stats.files == 2)
    val migrated = new graft.sinks.ParquetIndex(legacyRoot.toString,
      partitionBy = Seq(graft.sinks.ParquetIndex.PathPartitionCol))
      .read(spark).get
    assert(migrated.columns.contains(
      graft.sinks.ParquetIndex.PathPartitionCol))
    assert(migrated.collect().map(_.getAs[String]("relative_path")).toSet
      .contains("proj/a.txt"))
  }

  test("empty root: runs survive the empty partitioned snapshot") {
    val root = Files.createTempDirectory("idxempty")
    val idxRoot = Files.createTempDirectory("idxemptystore").toString
    val cfg = IndexerConfig(root.toString, idxRoot, mode = "index-only")
    val r1 = new Indexer(cfg, None).run(spark)
    assert(r1.stats.files == 0 && r1.stats.dirs == 0)
    // second run reads the empty snapshot back (no schema-inference trap)
    val r2 = new Indexer(cfg, None).run(spark)
    assert(r2.removed == 0)
    // files appearing later merge into the once-empty store
    Files.createDirectories(root.resolve("proj"))
    Files.writeString(root.resolve("proj/a.txt"), "aa")
    val r3 = new Indexer(cfg, None).run(spark)
    assert(r3.stats.files == 1)
    val snap = new graft.sinks.ParquetIndex(idxRoot,
      partitionBy = Seq(graft.sinks.ParquetIndex.PathPartitionCol))
      .read(spark).get
    assert(snap.collect().map(_.getAs[String]("relative_path")).toSet ==
      Set("proj", "proj/a.txt"))
  }

  test("config surface parses key=value lines with reference keys") {
    val cfg = IndexerConfig.load(Seq(
      "# comment", "root_path=/data", "index_root=/idx",
      "mode=index-only", "skip_patterns=.git,*.bak",
      "es_batch_size=500"))
    assert(cfg.rootPath == "/data" && cfg.mode == "index-only")
    assert(cfg.skipPatterns == Seq(".git", "*.bak"))
    assert(cfg.esBatchSize == 500)
  }
}
