package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{FsOps, Merge}
import graft.pipeline.{Indexer, IndexerConfig, LinkRefresh, RunReport}
import graft.sinks.{EsSink, ParquetIndex}
import graft.sources.FsListing

/** The graft benchmark: one workload, one seed, one JVM.
  *
  * `graft.perfbench.Main --workload <rescan-churn|query-mix>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir>` builds the
  * workload's inputs from the seed under `--work`, runs its operations
  * in a closed loop with one client (the next operation starts when the
  * previous one returns), checks every output, and prints one line
  * `PERFBENCH_RESULT {...}`: the end-to-end metrics when tracing is
  * off, the per-layer metrics when it is on. `--workload selftest`
  * checks that the seed alone fixes the inputs; `--workload query-pin`
  * prints the query checksums that `query_checksums.tsv` pins.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path, pins: Option[Path])

  /** Files in the generated tree, and the share of them one churn batch
    * touches.
    */
  val TreeFiles = 25000
  val ChurnFrac = 0.015
  /** Scale factor of the query-mix tables (0.01 ≈ 60k lineitem rows). */
  val QuerySf = 0.01
  /** Input builds per run (for rescan-churn: the tree written and
    * indexed once); `setup_s` is their median.
    */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toInt, kv.get("trace").contains("1"),
      Paths.get(kv("work")).toAbsolutePath,
      Paths.get(kv.getOrElse("out", kv("work"))).toAbsolutePath,
      kv.get("pins").map(Paths.get(_)))
    Files.createDirectories(a.work.resolve("tmp"))
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmQuiet(a.work)))
    val code =
      try {
        if (a.workload == "selftest") SelfTest.run(a.work)
        else {
          val spark = session(a.work)
          try new Runner(spark, a).run()
          finally spark.stop()
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally rmQuiet(a.work)
    System.exit(code)
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def rm(p: Path): Unit = graft.Bench.rm(p)

  def rmQuiet(p: Path): Unit = try rm(p) catch { case _: Throwable => () }

  def median(xs: scala.collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bytes of every regular file under `p` (0 if it does not exist). */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      finally s.close()
    }

  def countFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => f.toString.endsWith(suffix)).count()
      finally s.close()
    }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  /** The seeded query order of pass `pass`. */
  def queryOrder(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 7919L + pass).shuffle(graft.Bench.headline)
}

/** Counters behind the benchmark's ES transport and link fetch. Both run
  * inside Spark tasks of this JVM (local mode), so plain atomics see
  * every call.
  */
object Counters {
  val bulkCalls = new AtomicLong
  val docsSent = new AtomicLong
  val fetches = new AtomicLong
  val usefulFetches = new AtomicLong
  /** Filepaths ('/'-prefixed) whose link fetch is useful in this op. */
  @volatile var changed: Set[String] = Set.empty

  def reset(changedPaths: Set[String]): Unit = {
    Seq(bulkCalls, docsSent, fetches, usefulFetches).foreach(_.set(0L))
    changed = changedPaths
  }
}

/** No-op bulk transport: acknowledges every action without a network
  * hop (as `graft.Bench`'s ES leg does), counting calls and actions.
  */
object CountingTransport extends EsSink.Transport {
  def apply(lines: Seq[String]): Seq[Int] = {
    val n = lines.count(l =>
      l.startsWith("{\"index\"") || l.startsWith("{\"delete\""))
    Counters.bulkCalls.incrementAndGet()
    Counters.docsSent.addAndGet(n.toLong)
    Seq.fill(n)(200)
  }
}

/** Instant link fetch, counting fetches and the useful ones. */
object CountingFetch extends LinkRefresh.Fetch {
  def apply(fp: String, cached: Option[String]) = {
    Counters.fetches.incrementAndGet()
    if (Counters.changed.contains(fp)) Counters.usefulFetches.incrementAndGet()
    Some(LinkRefresh.FetchedLink("https://fs.example/bench",
      cached.orElse(Some("fse-bench"))))
  }
}

/** One benchmark run. */
final class Runner(spark: SparkSession, a: Main.Args) {
  import Main._

  private val t0Process = System.nanoTime()
  private val trace = if (a.trace) Some(new Trace(spark)) else None
  private var attempted = 0
  private var failed = 0
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val info = mutable.LinkedHashMap.empty[String, String]

  /** Run one operation: its failures (exception or failed check) count
    * against `error_rate`; returns None for a failed operation.
    */
  private def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        e.printStackTrace()
        None
    }
  }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new IllegalStateException(s"check failed: $msg")

  private def span[T](name: String, op: Int)(body: => T): T =
    trace match {
      case Some(t) => t.span(name, op)(_ => body)
      case None => body
    }

  /** Median of `SetupReps` builds into fresh directories; returns the
    * last one. The others stay until the work directory is removed on
    * exit, so deleting them adds no I/O to the timed operations.
    */
  private def setup[T](name: String)(build: Path => T): (Path, T) = {
    val built = (0 until SetupReps).map { r =>
      val dir = a.work.resolve(s"$name-$r")
      val t0 = System.nanoTime()
      val v = build(dir)
      (dir, v, secs(t0))
    }
    e2e("setup_s") = (median(built.map(_._3)), "s")
    info("setup_reps_s") = built.map(b => f"${b._3}%.3f").mkString(",")
    (built.last._1, built.last._2)
  }

  def run(): Int = {
    a.workload match {
      case "rescan-churn" => indexWorkload()
      case "query-mix" => queryWorkload(pin = false)
      case "query-pin" => queryWorkload(pin = true)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    info("process_to_done_s") = f"${secs(t0Process)}%.3f"
    report()
  }

  // ---------------------------------------------------------------- //
  // rescan-churn                                                      //
  // ---------------------------------------------------------------- //

  private def indexWorkload(): Unit = {
    /** One timed Indexer.run over `dir`/tree into `dir`/index, plus its
      * checks: the wall time and the store state after it.
      */
    def op(i: Int, dir: Path, tree: Tree, removed: Long,
        changed: Set[String]): Option[(Double, Map[String, Double])] =
      attempt(s"${a.workload} op $i") {
        val indexRoot = dir.resolve("index")
        val indexer = new Indexer(IndexerConfig(dir.resolve("tree").toString,
          indexRoot.toString, mode = "elasticsearch"), Some(CountingTransport),
          linkFetch = Some(CountingFetch))
        Counters.reset(changed.map("/" + _))
        val gc0 = gcS
        val t0 = System.nanoTime()
        val r = span("pipeline.run", i)(indexer.run(spark))
        val wall = secs(t0)
        val gc = gcS - gc0
        checkIndex(r, tree, indexRoot, removed)
        check(Counters.usefulFetches.get == changed.size,
          s"link refresh fetched ${Counters.usefulFetches.get} of the " +
            s"${changed.size} new or changed files")
        (wall, opState(indexRoot, tree) ++ Map(
          "jvm.gc_s" -> gc,
          "pipeline.link_fetches" -> Counters.fetches.get.toDouble,
          "pipeline.link_fetch_useful" -> (if (Counters.fetches.get == 0) 0.0
            else Counters.usefulFetches.get.toDouble / Counters.fetches.get)))
      }

    trace.foreach(_.attach())
    // set-up: the tree written and indexed from scratch; the first of
    // these index runs is the first operation in the JVM
    val fullIndex = mutable.ArrayBuffer.empty[Double]
    val (dir, tree) = setup("tree") { dir =>
      val t = Tree.generate(a.seed, TreeFiles)
      t.write(dir.resolve("tree"), Runtime.getRuntime.availableProcessors)
      op(0, dir, t, 0L, t.files.keySet.toSet).foreach(fullIndex += _._1)
      t
    }
    fullIndex.headOption.foreach(c => e2e("cold_s") = (c, "s"))
    info("full_index_s") = fullIndex.map(w => f"$w%.3f").mkString(",")
    info("tree_digest") = tree.digest
    info("tree_files") = tree.files.size.toString
    info("tree_dirs") = tree.dirs.size.toString
    val (root, indexRoot) = (dir.resolve("tree"), dir.resolve("index"))
    val warm = mutable.ArrayBuffer.empty[Double]
    val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 1
    while (i == 1 || System.nanoTime() < deadline) {
      val c = tree.churn(root, i, ChurnFrac)
      op(i, dir, tree, c.removed.toLong, c.changed).foreach { case (w, st) =>
        warm += w
        perOp += st
      }
      i += 1
    }
    if (warm.nonEmpty) {
      e2e("op_s") = (median(warm), "s")
      info("files_per_s") = f"${tree.files.size / median(warm)}%.1f"
      info("warm_ops") = warm.size.toString
      info("warm_op_s") = warm.map(w => f"$w%.3f").mkString(",")
      info("store_bytes_per_file") =
        f"${median(perOp.map(_("sinks.store_bytes_per_file")))}%.1f"
    }
    trace.foreach { t =>
      t.settle()
      pipelineLayers(t, perOp.toSeq)
      layer("trace.listener_pct") = t.listenerPct
      attempt("direct layer calls") {
        directIndexLayers(t, root, indexRoot, tree, i)
      }
      t.detach()
    }
  }

  /** Per-operation store state and counters, in per-layer names. */
  private def opState(indexRoot: Path, tree: Tree): Map[String, Double] = {
    val links = indexRoot.resolve("links")
    val linksIdx = new ParquetIndex(links.toString)
    val total = du(indexRoot)
    val filesStore = total - du(links) - du(indexRoot.resolve("dirsizes"))
    Map(
      "sinks.files_store_mb" -> filesStore / 1048576.0,
      "sinks.links_store_mb" -> du(links) / 1048576.0,
      "sinks.links_mor_entries" -> linksIdx.currentId
        .map(linksIdx.morEntries(_).size.toDouble).getOrElse(0.0),
      "sinks.parquet_files" -> countFiles(indexRoot, ".parquet").toDouble,
      "sinks.store_bytes_per_file" -> total.toDouble / tree.files.size)
  }

  /** The snapshot's (row count, xor of xxhash64(path, size)). */
  private def snapshotSum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(relative_path, " +
      "coalesce(size_bytes, -1L)))")).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def checkIndex(r: RunReport, tree: Tree, indexRoot: Path,
      removed: Long): Unit = {
    import spark.implicits._
    val (files, dirs) = (tree.files.size.toLong, tree.dirs.size.toLong)
    check(r.indexed == r.stats.files + r.stats.dirs,
      s"indexed ${r.indexed} != files ${r.stats.files} + dirs ${r.stats.dirs}")
    check(r.stats.files == files && r.stats.dirs == dirs,
      s"scanned ${r.stats.files} files/${r.stats.dirs} dirs, model has " +
        s"$files/$dirs")
    check(r.esFailed == 0L, s"esFailed ${r.esFailed}")
    check(r.removed == removed, s"removed ${r.removed}, churn removed $removed")
    val snap = new ParquetIndex(indexRoot.toString).read(spark)
      .getOrElse(throw new IllegalStateException("no snapshot"))
    val model = (tree.files.iterator.map { case (p, e) => (p, Option(e.size)) } ++
      tree.dirs.iterator.map(d => (d, Option.empty[Long])))
      .toSeq.toDF("relative_path", "size_bytes")
    val (got, want) = (snapshotSum(snap), snapshotSum(model))
    check(got == want, s"snapshot (rows, checksum) $got != model $want")
    val rootSize = new ParquetIndex(indexRoot.resolve("dirsizes").toString)
      .read(spark).get
      .filter(not(col("directory_path").substr(2, 1 << 20).contains("/")))
      .agg(coalesce(sum("sz"), lit(0L))).collect()(0).getLong(0)
    check(rootSize == tree.bytes, s"root rollup $rootSize != ${tree.bytes}")
  }

  /** pipeline.* from the labelled jobs of each traced warm operation. */
  private def pipelineLayers(t: Trace, ops: Seq[Map[String, Double]]): Unit = {
    val steps = Seq(
      "scan_merge_write" -> "scan + merge + snapshot write",
      "deletion_reconcile" -> "deletion reconcile",
      "link_refresh" -> "link refresh",
      "rollup" -> "dirSizes rollup maintenance",
      "publish_index" -> "publish: bulk index",
      "publish_delete" -> "publish: bulk delete")
    val runs = t.spansNamed("pipeline.run").filter(_.op > 0)
    def med(f: Trace.Span => Double) =
      if (runs.isEmpty) 0.0 else median(runs.map(f))
    steps.foreach { case (k, desc) =>
      def js(s: Trace.Span) = t.jobsIn(s, Some(s"indexer: $desc"))
      layer(s"pipeline.$k.wall_s") =
        med(s => Trace.unionS(js(s).map(j => (j.startMs, j.endMs))))
      layer(s"pipeline.$k.task_s") = med(s => js(s).map(_.taskMs).sum / 1000.0)
      layer(s"pipeline.$k.gc_s") = med(s => js(s).map(_.gcMs).sum / 1000.0)
      layer(s"pipeline.$k.shuffle_mb") =
        med(s => js(s).map(_.shuffleBytes).sum / 1048576.0)
      layer(s"pipeline.$k.jobs") = med(s => js(s).size.toDouble)
    }
    val labelled = (s: Trace.Span) => Trace.unionS(t.jobsIn(s)
      .filter(_.desc.startsWith("indexer: ")).map(j => (j.startMs, j.endMs)))
    layer("pipeline.run_s") = med(_.s)
    layer("pipeline.driver_s") = med(s => s.s - labelled(s))
    layer("trace.coverage") = med(s => labelled(s) / s.s)
    ops.headOption.foreach(_.keys.foreach { k =>
      layer(k) = median(ops.map(_(k)))
    })
  }

  /** Call each layer's public function directly on this workload's
    * inputs. A fresh churn batch is applied first, so the merge
    * reconciles real changes against the stored snapshot.
    */
  private def directIndexLayers(t: Trace, root: Path, indexRoot: Path,
      tree: Tree, op: Int): Unit = {
    tree.churn(root, op, ChurnFrac)
    def timed[T](name: String)(body: => T): (T, Trace.Span) =
      t.span(name, op)(s => (body, s))
    val (listing, walk) = timed("sources.walk") {
      FsListing.list(spark, root.toString, IndexerConfig.defaultSkips)
        .localCheckpoint(true)
    }
    layer("sources.walk_s") = walk.s
    layer("sources.entries") = listing.count().toDouble
    val (entries, norm) = timed("pipeline.normalize") {
      Indexer.normalize(listing).localCheckpoint(true)
    }
    layer("pipeline.normalize_s") = norm.s
    val prev = new ParquetIndex(indexRoot.toString).read(spark).get
    val (_, m) = timed("operators.merge") {
      graft.Bench.checksum(Merge.mergeReconcile(prev, entries,
        "relative_path", "modified_time"))
    }
    t.settle()
    layer("operators.merge_s") = m.s
    layer("operators.merge_shuffle_mb") =
      t.jobsIn(m).map(_.shuffleBytes).sum / 1048576.0
    val (_, roll) = timed("operators.rollup") {
      graft.Bench.checksum(FsOps.ancestorSizePairs(
        entries.filter(col("type") === "file"))
        .groupBy("directory_path").agg(sum("size_bytes")))
    }
    layer("operators.rollup_s") = roll.s
    val snapDir = a.work.resolve("probe-snapshot")
    val (_, w) = timed("sinks.snapshot_write") {
      new ParquetIndex(snapDir.toString,
        partitionBy = Seq(ParquetIndex.PathPartitionCol), writeFiles = 4,
        sortWithin = Seq("relative_path")).write(entries)
    }
    layer("sinks.snapshot_write_s") = w.s
    layer("sinks.snapshot_mb") = du(snapDir) / 1048576.0
    Counters.reset(Set.empty)
    val (stats, pub) = timed("sinks.publish") {
      new EsSink(CountingTransport, 1000).bulkIndex(entries, "files", "id")
    }
    check(stats.indexed == entries.count() && stats.failed == 0L,
      s"direct publish indexed ${stats.indexed}, failed ${stats.failed}")
    layer("sinks.publish_s") = pub.s
    layer("sinks.bulk_calls") = Counters.bulkCalls.get.toDouble
    layer("sinks.docs_sent") = Counters.docsSent.get.toDouble
    layer("sinks.es_retries") = stats.retries.toDouble
  }

  // ---------------------------------------------------------------- //
  // query-mix                                                         //
  // ---------------------------------------------------------------- //

  private def queryWorkload(pin: Boolean): Unit = {
    val (data, rows) = setup("data") { dir =>
      SfData.write(spark, dir.toString, QuerySf)
    }
    info("lineitem_rows") = rows.toString
    val qs = graft.SparkEntry.queries
    val pinned = a.pins.filter(_ => !pin).map { p =>
      scala.io.Source.fromFile(p.toFile).getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(k, v) = l.split("\\s+"); k -> v.toLong }.toMap
    }.getOrElse(Map.empty)
    val samples = mutable.ArrayBuffer.empty[Double]
    val gcPerPass = mutable.ArrayBuffer.empty[Double]

    /** One pass over the 19 headline queries in the seeded order. */
    def pass(p: Int): Option[Double] = {
      val gc0 = gcS
      val t0 = System.nanoTime()
      var ok = true
      span("query.pass", p) {
        queryOrder(a.seed, p).foreach { q =>
          val res = attempt(s"query $q pass $p") {
            val q0 = System.nanoTime()
            val sum = span(s"query.$q", p) {
              graft.Bench.checksum(qs(q)(spark, data.toString))
            }
            val s = secs(q0)
            if (pin) println(s"$q\t$sum")
            else check(pinned.get(q).contains(sum),
              s"$q checksum $sum != pinned ${pinned.get(q)}")
            s
          }
          res match {
            case Some(s) => if (p > 0) samples += s
            case None => ok = false
          }
        }
      }
      val wall = secs(t0)
      if (p > 0) gcPerPass += gcS - gc0
      if (ok) Some(wall) else None
    }

    trace.foreach(_.attach())
    pass(0).foreach(c => e2e("cold_s") = (c, "s"))
    if (pin) return
    val warm = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var p = 1
    while (p == 1 || System.nanoTime() < deadline) {
      pass(p).foreach(warm += _)
      p += 1
    }
    if (warm.nonEmpty) {
      e2e("op_s") = (median(warm), "s")
      info("mix_s") = f"${median(warm)}%.3f"
      info("warm_passes") = warm.size.toString
      info("query_s_p50") =
        f"${quantile(samples, 0.5)}%.4f (n=${samples.size})"
      info("query_s_p90") =
        f"${quantile(samples, 0.9)}%.4f (n=${samples.size})"
    }
    trace.foreach { t =>
      t.settle()
      val passes = t.spansNamed("query.pass").filter(_.op > 0)
      graft.Bench.headline.foreach { q =>
        val ss = t.spansNamed(s"query.$q").filter(_.op > 0)
        layer(s"query.$q.s") = median(ss.map(_.s))
        layer(s"query.$q.plan_ms") = median(ss.map(t.planMsIn(_).toDouble))
        layer(s"query.$q.shuffle_mb") =
          median(ss.map(s => t.jobsIn(s).map(_.shuffleBytes).sum / 1048576.0))
      }
      def perPass(f: Seq[Trace.Job] => Double) =
        median(passes.map(s => f(t.jobsIn(s))))
      layer("query.task_s") = perPass(_.map(_.taskMs).sum / 1000.0)
      layer("query.gc_s") = perPass(_.map(_.gcMs).sum / 1000.0)
      layer("query.spill_mb") = perPass(_.map(_.spillBytes).sum / 1048576.0)
      layer("query.jobs") = perPass(_.size.toDouble)
      layer("query.tasks") = perPass(_.map(_.tasks).sum.toDouble)
      layer("query.s_p50") = quantile(samples, 0.5)
      layer("query.s_p90") = quantile(samples, 0.9)
      layer("jvm.gc_s") = median(gcPerPass.toSeq)
      layer("trace.listener_pct") = t.listenerPct
      t.detach()
    }
  }

  // ---------------------------------------------------------------- //
  // result                                                            //
  // ---------------------------------------------------------------- //

  /** Every per-layer metric, 0 where the workload does not run the
    * layer (pipeline.* on query-mix, query.* on rescan-churn).
    */
  private def layerNames: Seq[String] = {
    val steps = Seq("scan_merge_write", "deletion_reconcile",
      "link_refresh", "rollup", "publish_index", "publish_delete")
      .flatMap(s => Seq("wall_s", "task_s", "gc_s", "shuffle_mb", "jobs")
        .map(m => s"pipeline.$s.$m"))
    steps ++ Seq("pipeline.run_s", "pipeline.driver_s",
      "sources.walk_s", "sources.entries", "pipeline.normalize_s",
      "pipeline.link_fetches", "pipeline.link_fetch_useful",
      "operators.merge_s", "operators.merge_shuffle_mb",
      "operators.rollup_s", "sinks.snapshot_write_s", "sinks.snapshot_mb",
      "sinks.publish_s", "sinks.bulk_calls", "sinks.docs_sent",
      "sinks.es_retries", "sinks.files_store_mb", "sinks.links_store_mb",
      "sinks.links_mor_entries", "sinks.parquet_files",
      "sinks.store_bytes_per_file") ++
      graft.Bench.headline.flatMap(q =>
        Seq("s", "plan_ms", "shuffle_mb").map(m => s"query.$q.$m")) ++
      Seq("query.task_s", "query.gc_s", "query.spill_mb", "query.jobs",
        "query.tasks", "query.s_p50", "query.s_p90", "jvm.gc_s",
        "jvm.peak_rss_mb",
        "trace.coverage", "trace.listener_pct")
  }

  private def unit(name: String): String = name.split('.').last match {
    case n if n.endsWith("_s") || n == "s" || n.startsWith("s_p") => "s"
    case n if n.endsWith("_mb") => "MB"
    case "plan_ms" => "ms"
    case "listener_pct" => "%"
    case "coverage" | "link_fetch_useful" => "ratio"
    case "store_bytes_per_file" => "B"
    case _ => "count"
  }

  private def report(): Int = {
    layer("jvm.peak_rss_mb") = peakRssMb
    info("peak_rss_mb") = f"${peakRssMb}%.1f"
    val errorRate = if (attempted == 0) 1.0 else failed.toDouble / attempted
    info("error_rate") = f"$errorRate%.4f ($failed of $attempted)"
    info.foreach { case (k, v) => println(s"[perfbench] $k = $v") }
    val metrics: Seq[(String, Double, String)] =
      if (a.trace) layerNames.map(n => (n, layer.getOrElse(n, 0.0), unit(n)))
      else e2e.toSeq.map { case (k, (v, u)) => (k, v, u) }
    metrics.foreach { case (k, v, u) => println(s"[perfbench] $k = $v $u") }
    trace.foreach { t =>
      val out = a.out.resolve(s"trace-${a.workload}-seed${a.seed}.jsonl")
      t.writeJsonl(out)
      println(s"[perfbench] trace = $out")
    }
    val correct = failed == 0 && attempted > 0
    val json = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    if (a.workload != "query-pin") println(
      s"""PERFBENCH_RESULT {"correct":$correct,"attempted":$attempted,""" +
        s""""failed":$failed,"metrics":$json}""")
    if (correct) 0 else 1
  }
}
