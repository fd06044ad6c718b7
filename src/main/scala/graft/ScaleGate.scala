package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.graft.PlanBridge

/** k-replica scale CORRECTNESS gate (VERDICT r9 item #1): the driver's
  * DuckDB compare runs at sf0.01 and the bench at sf0.1 — but parity
  * at scale was never *hash-checked*, and the r8 sf0.1 sweep proved that
  * knife-edge classes (a `round(avg(...))` landing on .5 exactly) only
  * surface once the data is big enough to hit them. This main dumps
  * the five heaviest queries' results on the k× replica of sf0.1
  * (~6M lineitem rows / 50k docs at the default k=10) so
  * `tools/scalegate.py` can replay their oracles in DuckDB over the
  * SAME replica and hash-compare — the sf0.01 gate's exact discipline,
  * one decade up. Run once per round (PERF.md records the table).
  *
  * usage: `graft.ScaleGate [k] [srcDir] [outRoot]`
  * (defaults: 10, $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1,
  * target/scalegate) — writes `outRoot/data/` (the replica, other
  * tables symlinked) and `outRoot/verify/<query>/` + oracle_sql.json.
  */
object ScaleGate {

  /** The gate set (widened to 10 per the r10 verdict): the five
    * heaviest/scale-riskiest fs/merge rows from r9 — the publish join
    * whose output is the corpus, the one-exchange merge, the
    * ancestor-explode rollup, the banded MinHash pair join, the
    * anchored substring-dedup join — plus the five heaviest rows of
    * the knife-edge classes the fs set missed: the components
    * clustering over the pair graph, the sharded pack manifest, the
    * percentile-cut curriculum order (its band boundaries are exactly
    * the round()/percentile-sensitive shape the r8 sweep caught), the
    * gap-based sessionizer over the now-replicated events, and TPC-H
    * q21's 4-way lineitem self-join.
    */
  val gated: Seq[String] = Seq(
    "fs_es_docs", "fs_merge_upsert", "fs_dir_rollup_explode",
    "docs_minhash_neardup", "docs_exact_substrings",
    "docs_neardup_clusters", "docs_pack_segments_sharded",
    "docs_curriculum_order_ranged", "events_sessionize",
    "q21_waiting_suppliers",
    // serving-store row (r13 verdict #8): the ONLY gate row whose cost
    // is the store BUILD, not the dump — TermIndex is built on the
    // replica corpus, the search serves from its bucket-pruned
    // postings, and the oracle recomputes BM25 from scratch over the
    // same replica. Hash-clean here proves the durable-index lifecycle
    // (two-generation incremental build + bucket-pruned read) holds
    // above sf0.1, where no lifecycle row had ever been checked.
    "docs_bm25_indexed")

  /** Per-query OUTPUT column the oracle comparator may range-bucket
    * on (`SPARK_GRAFT_ORACLE_BUCKETS` in tools/scalegate.py): digests
    * are abelian, so the DuckDB side can compute its digest bucket-by-
    * bucket — `WHERE hash(col) % B = i` over the oracle's output —
    * and combine, keeping each pass's window/join state ~1/B of the
    * frame under the existing memory cap. Correctness never depends
    * on pushdown (the predicate partitions the OUTPUT rows disjointly
    * for ANY column); the keys chosen here are group/partition keys of
    * each query's final window or aggregate, which DuckDB pushes
    * through those operators so the memory bound is real, not just
    * the digest's. Emitted in gate_meta.json for the python side.
    */
  // docs_bm25_indexed is deliberately ABSENT: its output is the
  // top-20 (doc_id, score) rows, so a bucket predicate sits ABOVE the
  // ORDER BY score LIMIT (it cannot push through a top-k without
  // changing it) and each extra pass would re-run the oracle's full
  // corpus-wide BM25 recompute for a 20-row digest slice — the
  // unbucketed single pass is both exact and strictly cheaper at
  // every k. q21 is absent for the same reason (2-row output).
  val bucketKeys: Map[String, String] = Map(
    "fs_es_docs" -> "relative_path",
    "fs_merge_upsert" -> "relative_path",
    "fs_dir_rollup_explode" -> "directory_path",
    "docs_minhash_neardup" -> "a_id",
    "docs_exact_substrings" -> "doc_a",
    "docs_neardup_clusters" -> "doc_id",
    "docs_pack_segments_sharded" -> "pack_id",
    "docs_curriculum_order_ranged" -> "doc_id",
    "events_sessionize" -> "user_id")

  /** Bucket-slice INJECTION SITES (r16): an output-level
    * `WHERE hash(key) % B = i` pushes through joins and GROUP BYs on
    * the key, but DuckDB does NOT push it below a WINDOW — measured at
    * k=1000, each fs_merge_upsert bucket pass re-materialized the full
    * 1.2B-row row_number window (~80 GB of spill × 8 passes, ENOSPC).
    * For such queries this map names the CTE where the comparator may
    * inject the slice instead (`site AS (SELECT * FROM (body) WHERE
    * hash(key) % B = i)`), which is EXACT iff the site is
    * partition-aligned: the site exposes the bucket key, and every
    * final output row derives only from site rows sharing its key —
    * fs_merge_upsert's window partitions by exactly `relative_path`,
    * so whole-partition slices of `unioned` commute with it (the same
    * argument [[graft.operators.FsOps.mergeUpsertShard]] makes for
    * the Spark-side sharded dump). The failure mode is LOUD: an
    * overlapping or leaky slice changes the digest's row count/sum
    * and the compare FAILs — it can never silently pass.
    */
  val bucketSites: Map[String, String] = Map(
    "fs_merge_upsert" -> "unioned",
    // the islands window partitions by (doc_a, doc_b, diag) and the
    // final GROUP BY starts with doc_a — slicing the pre-window
    // self-join `p` on doc_a (= x.doc_id, the join's left side) is
    // whole-partition for both
    "docs_exact_substrings" -> "p")

  /** Key-bucket SHARDED dump forms (r14): the comparator digests are
    * abelian, so a query whose result can be sliced into exact
    * per-key buckets may be dumped in `SPARK_GRAFT_SHARDS` separate
    * passes — each pass shuffles 1/n of the corpus, which is what
    * fits the heavy fs legs' 2×corpus exchanges under the sandbox's
    * hard ~80 GB disk reservation at k=1000. Each pass runs in its
    * OWN JVM (tools/scalegate.py drives them) so shuffle files free
    * deterministically between passes. Exactness is argued at each
    * form's definition ([[graft.operators.FsOps.mergeUpsertShard]],
    * [[graft.operators.FsOps.esDocsShard]]): the bucket predicate
    * rides every join input, and DuckDB digests the union of the
    * shard files.
    */
  val shardedForms
      : Map[String, (SparkSession, String, Int, Int) => DataFrame] = Map(
    "fs_merge_upsert" -> (graft.operators.FsOps.mergeUpsertShard _),
    "fs_es_docs" -> (graft.operators.FsOps.esDocsShard _))

  /** Strip a TRAILING global Sort from a query's plan before the dump:
    * every gated query ends in `.orderBy(...)` for the driver's sf0.01
    * verify, but the k-replica comparator is an order-insensitive
    * digest (count/sum/xor of row hashes), so the global sort bought
    * nothing and cost everything — at k=1000 the 600M-row range
    * exchange behind `fs_merge_upsert`'s dump spilled >74 GB and
    * ENOSPC'd (PERF.md r13). With the sort gone the dump writes
    * straight out of the final hash aggregate, one file per partition.
    * Only the top of the plan is touched (a Project over the Sort is
    * the other analyzed shape `select` leaves); sorts INSIDE a query
    * (windows, top-k) are semantics and stay.
    */
  private[graft] def stripTopSort(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val stripped: LogicalPlan = plan match {
      case s: Sort if s.global => s.child
      case p @ Project(_, s: Sort) if s.global => p.copy(child = s.child)
      case other => other
    }
    if (stripped eq plan) df
    else PlanBridge.ofRows(df.sparkSession, stripped)
  }

  /** Replica-identity guard for `SPARK_GRAFT_REUSE_REPLICA` (r15
    * verdict #4): the replica carries its k in a `replica_k` marker
    * written at materialize time, and reuse REFUSES a mismatch — for
    * a correctness gate, silently hash-comparing a k=1000 dump against
    * a k=10 replica is the one failure mode to design out. A replica
    * without the marker predates it and is refused too
    * (re-materialize rather than trust).
    */
  private[graft] def requireReplicaK(
      data: java.nio.file.Path, k: Int): Unit = {
    val m = data.resolve("replica_k")
    val recorded =
      if (Files.exists(m)) Files.readString(m).trim.toIntOption else None
    require(recorded.contains(k),
      s"SPARK_GRAFT_REUSE_REPLICA: existing replica at $data is " +
        s"k=${recorded.getOrElse("(no replica_k marker)")}, this " +
        s"invocation is k=$k — refusing to compare against the wrong " +
        "corpus; unset the flag to wipe and re-materialize")
  }

  /** Write the k× replica of `src` into `dst`. Replication preserves
    * the workload's SHAPE, not just its row count:
    * - `lineitem`/`orders` copies shift their order keys past the
    *   original max, so the synthetic fs gains k× files in k× distinct
    *   order directories under the same nation/customer fanout (the
    *   modulo-carved hidden/recent/tmp classes keep their density).
    * - `documents` copies shift doc_id AND tag every token with the
    *   copy ordinal: each replica reproduces sf0.1's internal duplicate
    *   families but shares no shingles across replicas — family COUNT
    *   grows k×, family SIZE stays constant, which is how a genuinely
    *   larger corpus behaves. Naive replication would instead merge
    *   every family across copies and the banded join's per-family
    *   quadratic term would masquerade as engine superlinearity.
    * - `events` copies get disjoint users and event ids.
    * - EVERY other table is symlinked verbatim (broadcast dims; the
    *   DuckDB harness registers all ten views, so they must all
    *   resolve).
    * All copies (including k=1) are written from 32 partitions, so
    * input parallelism is identical across scales.
    */
  private[graft] def materialize(spark: SparkSession, src: String,
      k: Int, dst: java.nio.file.Path): Unit = {
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val shift = ord.agg(max("o_orderkey")).head().getLong(0) + 1
    val docShift = docs.agg(max("doc_id")).head().getLong(0) + 1

    // ONE scan × a broadcast range(k), not a k-way union: at k=1000
    // the union form is a 1000-branch plan (minutes of planning, k
    // scans of the same file); the cross-join form emits the identical
    // row multiset (ScaleGateSpec pins it against the union shape).
    // The SOURCE repartitions to 32 BEFORE the fan-out — the sf0.1
    // tables are single-file/single-split, so exploding first would
    // serialize k× the corpus through one task (measured: a lone map
    // task emitting a 26+ GB shuffle at k=1000) — and the write then
    // inherits those 32 partitions with NO post-explode shuffle at all.
    def copies(df: DataFrame,
        f: (DataFrame, Column) => DataFrame): DataFrame = {
      val tagged = df.repartition(32).crossJoin(
        broadcast(spark.range(k).select(col("id").as("copy_i"))))
      f(tagged, col("copy_i")).drop("copy_i")
    }

    copies(li, (d, i) => d.withColumn("l_orderkey",
        col("l_orderkey") + i * lit(shift)))
      .write.parquet(s"$dst/lineitem.parquet")
    copies(ord, (d, i) => d.withColumn("o_orderkey",
        col("o_orderkey") + i * lit(shift)))
      .write.parquet(s"$dst/orders.parquet")
    // copy 0 keeps the ORIGINAL text: prefixing every token kept the
    // copies' shingle/anchor spaces pairwise disjoint (the dedup rows
    // must not mint cross-copy pairs), but it also renamed every term,
    // so a term-addressed serving row (docs_bm25_indexed's fixed query
    // terms) matched nothing on the replica. An unprefixed copy 0 is
    // still disjoint from every prefixed copy i>0, within-copy
    // semantics are unchanged, and the BM25 gate row gets real hits
    // whose df/n/avgdl run over the FULL replica corpus.
    copies(docs, (d, i) => d
        .withColumn("doc_id", col("doc_id") + i * lit(docShift))
        .withColumn("text", when(i === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              t => concat(lit("c"), i.cast("string"), lit("_"), t)), " ")))
        .withColumn("n_chars", length(col("text"))))
      .write.parquet(s"$dst/documents.parquet")
    // events replicate with disjoint users AND event ids, so the
    // sessionize/window gate rows scale in session COUNT (the way real
    // traffic grows) rather than stretching one user's history
    val ev = spark.read.parquet(s"$src/events.parquet")
    val evShift = ev.agg(max("event_id")).head().getLong(0) + 1
    val userShift = ev.agg(max("user_id")).head().getLong(0) + 1
    copies(ev, (d, i) => d
        .withColumn("event_id", col("event_id") + i * lit(evShift))
        .withColumn("user_id", col("user_id") + i * lit(userShift)))
      .write.parquet(s"$dst/events.parquet")
    val scaledTables = Set("lineitem", "orders", "documents", "events")
    val s = Files.list(Paths.get(src))
    try {
      s.forEach { p =>
        val n = p.getFileName.toString
        if (n.endsWith(".parquet") &&
            !scaledTables.contains(n.stripSuffix(".parquet")))
          Files.createSymbolicLink(dst.resolve(n), p.toAbsolutePath): Unit
      }
    } finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 10
    val src =
      if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outRoot = if (args.length > 2) args(2) else "target/scalegate"
    val spark = Bench.buildSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // Scale the shuffle width with the replica, not the heap with the
    // data (r13 verdict #5): at the bench's fixed 32 partitions a
    // k=1000 sessionize window buffered ~6M-row user partitions per
    // task and needed a 100 GB dump heap. 32 partitions per k=10
    // decade keeps per-task state flat (AQE still coalesces genuinely
    // small stages back down), so the default heap holds at every k
    // and the SPARK_GRAFT_DUMP_XMX knob is retired to a plain default.
    spark.conf.set("spark.sql.shuffle.partitions",
      math.min(4096, 32 * math.max(1, k / 10)).toString)
    // The k=1000 dumps are DISK-bound, not CPU-bound: the merge/
    // publish shuffles move O(corpus) highly-repetitive path strings,
    // and lz4 (the default) left r13's runs ENOSPC against the
    // sandbox's ~75 GB free. zstd trades shuffle CPU for 2-4× tighter
    // spill on exactly this data shape; session-scoped here so bench
    // numbers (Bench.buildSession defaults) are untouched. These are
    // cluster-level knobs on a real deployment — the plan itself is
    // unchanged.
    spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
    // sharded-dump pass coordinates (see shardedForms): pass 0 owns
    // the wipe/replica/meta; later passes reuse them
    val shards = sys.env.get("SPARK_GRAFT_SHARDS").map(_.toInt)
      .getOrElse(1)
    val shard = sys.env.get("SPARK_GRAFT_SHARD").map(_.toInt)
    val firstPass = shard.forall(_ == 0)
    val root = Paths.get(outRoot)
    val data = root.resolve("data")
    // SPARK_GRAFT_REUSE_REPLICA=1: keep an existing outRoot (replica,
    // staged inputs, other queries' dumps) instead of wipe+rebuild —
    // the disk-constrained recovery path: at k=1000 the sandbox cannot
    // hold BOTH heavy fs dumps beside the oracle's spill, so one query
    // is dumped+compared+dropped at a time against the replica a
    // previous pass already materialized (a fresh wipe would delete
    // the sibling's not-yet-compared dump with it). The replica
    // carries its k in a marker file (`replica_k`, written at
    // materialize time) and reuse REFUSES a mismatch — for a
    // correctness gate, silently hash-comparing a k=1000 dump against
    // a k=10 replica is the one failure mode to design out (r15
    // verdict #4); a replica without the marker predates it and is
    // refused too (re-materialize rather than trust).
    val reuse = sys.env.get("SPARK_GRAFT_REUSE_REPLICA").contains("1") &&
      (Files.exists(data.resolve("lineitem.parquet")) ||
        Files.isSymbolicLink(data.resolve("lineitem.parquet")))
    if (reuse) requireReplicaK(data, k)
    if (firstPass && !reuse)
      Bench.rm(root) // NOFOLLOW-safe: symlinked source tables survive
    Files.createDirectories(data)
    if (firstPass && !reuse) {
      val t0 = System.nanoTime()
      materialize(spark, src, k, data)
      Files.writeString(data.resolve("replica_k"), k.toString)
      System.err.println(
        f"[scalegate] k=$k replica of $src in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val out = root.resolve("verify")
    Files.createDirectories(out)
    val qs = SparkEntry.queries
    // SPARK_GRAFT_GATED=a,b,c restricts the gate set — the k=100
    // (~sf10) decade runs only the three heaviest rows, where dumping
    // all ten would cost an hour to re-prove the same classes.
    // VALIDATED: the override must be a non-empty subset of the gate
    // set (a typo'd name would otherwise throw a raw
    // NoSuchElementException from qs(name) mid-run), and the active
    // subset is recorded in gate_meta.json beside the oracles so a
    // three-row decade artifact can never masquerade as full coverage.
    val run = sys.env.get("SPARK_GRAFT_GATED")
      .map { s =>
        val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(names.nonEmpty,
          "SPARK_GRAFT_GATED is set but names no queries")
        val unknown = names.filterNot(gated.contains)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_GATED names queries outside the gate set: " +
            s"${unknown.mkString(", ")} — valid: ${gated.mkString(", ")}")
        names
      }
      .getOrElse(gated)
    run.foreach { name =>
      val t1 = System.nanoTime()
      // unordered, multi-file: the comparator digests are order-
      // insensitive and DuckDB glob-reads the partition files, so the
      // old `coalesce(1)` single-task funnel (which also collapsed the
      // preceding sort to ONE partition) is gone with the sort itself
      val (dumped, stages) = StageRecorder.recording(spark) {
        (shard, shardedForms.get(name)) match {
          case (Some(i), Some(form)) =>
            // sharded pass: this JVM dumps ONLY bucket i of n
            form(spark, data.toString, i, shards)
              .write.mode("overwrite")
              .parquet(out.resolve(name).resolve(s"shard-$i").toString)
            true
          case (Some(i), None) =>
            // unsharded query under a sharded run: pass 0 dumps it whole
            if (i == 0)
              stripTopSort(qs(name)(spark, data.toString))
                .write.mode("overwrite")
                .parquet(out.resolve(name).toString)
            i == 0
          case _ =>
            stripTopSort(qs(name)(spark, data.toString))
              .write.mode("overwrite").parquet(out.resolve(name).toString)
            true
        }
      }
      val moved = StageRecorder.moved(stages)
      if (dumped) System.err.println(
        f"[scalegate] $name${shard.fold("")(i => s" shard $i/$shards")} " +
          f"dumped in ${(System.nanoTime() - t1) / 1e9}%.1f s " +
          f"(shuffle write ${moved(1) / 1e9}%.1f GB, " +
          f"spill ${moved(2) / 1e9}%.1f GB)")
    }
    if (!firstPass) { spark.stop(); return }
    def q(s: String): String =
      "\"" + graft.functions.JsonText.esc(s) + "\""
    // MERGE the gate record across reuse invocations (r15 advice): the
    // disk-constrained recovery path runs one query per invocation
    // against the shared replica, and each invocation overwriting
    // oracle_sql.json/gate_meta.json with only its own subset left a
    // preserved sibling dump with no gate record. Under reuse, the
    // recorded set is the union of this invocation's subset and
    // whatever earlier passes recorded (all content re-derived from
    // SparkEntry/bucketKeys, so stale text can't survive a rename).
    val metaPath = out.resolve("gate_meta.json")
    val recorded: Seq[String] =
      if (reuse && Files.exists(metaPath)) {
        import scala.jdk.CollectionConverters._
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(Files.readString(metaPath))
        Option(node.get("gated")).map(_.elements().asScala
          .map(_.asText()).toSeq).getOrElse(Seq.empty)
      } else Seq.empty
    val cover = (recorded ++ run).distinct.filter(gated.contains)
    val json = SparkEntry.oracleSql
      .filter { case (n, _) => cover.contains(n) }
      .map { case (n, v) => s"${q(n)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(out.resolve("oracle_sql.json"), json)
    // record what this artifact actually covers: k, the covered subset
    // (merged across reuse passes), and whether it falls short of the
    // full gate — downstream checks can tell a 3-row k=100 run from
    // the full gate without inference
    val meta = Seq(
      s"${q("k")}: $k",
      s"${q("override")}: ${cover.toSet != gated.toSet}",
      s"${q("gated")}: [${cover.map(q).mkString(", ")}]",
      s"${q("gate_full")}: [${gated.map(q).mkString(", ")}]",
      s"${q("bucket_keys")}: ${
        bucketKeys.filter { case (n, _) => cover.contains(n) }
          .map { case (n, c) => s"${q(n)}: ${q(c)}" }
          .mkString("{", ", ", "}")}",
      s"${q("bucket_sites")}: ${
        bucketSites.filter { case (n, _) => cover.contains(n) }
          .map { case (n, c) => s"${q(n)}: ${q(c)}" }
          .mkString("{", ", ", "}")}")
      .mkString("{", ", ", "}")
    Files.writeString(metaPath, meta)
    spark.stop()
  }
}
