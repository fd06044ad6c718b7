package graft

import org.apache.spark.sql.DataFrame

/** Pins the scale-critical PLAN properties of the flagship queries so a
  * regression (a lost pushdown, a surprise cartesian, a broadcast gone
  * missing) fails CI, not a 100 TB run. Assertions are deliberately
  * coarse — they pin strategy classes, not operator counts AQE may
  * legitimately rearrange.
  */
class PlanAuditSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  /** Final (post-AQE) physical plan text. */
  private def finalPlan(df: DataFrame): String = {
    df.collect() // drive AQE to its final plan
    df.queryExecution.executedPlan.toString
  }

  test("q5: pruned scans, pushed filters, no cartesian/sort-merge join") {
    val p = finalPlan(SparkEntry.queries("q5_region_revenue")(spark, sf))
    // column pruning reached parquet: the wide comment columns are gone
    assert(!p.contains("l_comment") && !p.contains("o_comment"), p)
    // the region literal filter was pushed into the scan
    assert(p.contains("ASIA"), p)
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    // join strategy: hash joins only at this scale
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q1: scan reads only the aggregated columns") {
    val p = finalPlan(SparkEntry.queries("q1_pricing_summary")(spark, sf))
    assert(!p.contains("l_comment") && !p.contains("l_partkey"), p)
    // map-side partial aggregation before the exchange
    assert(p.contains("partial_sum"), p)
  }

  test("rollup explode path: partial agg, no nested-loop anywhere") {
    val p = finalPlan(SparkEntry.queries("fs_dir_rollup_explode")(spark, sf))
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("incremental rollup: map-side delta combine, equi-joins only") {
    val p = finalPlan(
      SparkEntry.queries("fs_dir_rollup_incremental")(spark, sf))
    // the delta aggregate partial-combines before its exchange
    assert(p.contains("partial_sum"), p)
    // prior-fold and dirs legs are equi-joins — never a nested loop
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("rollup theta path: the deliberate bounded broadcast BNLJ shape") {
    val p = finalPlan(SparkEntry.queries("fs_dir_rollup_theta")(spark, sf))
    // this query IS the reference-parity nested loop — pinned so a
    // future edit can't silently turn the scale path into this shape
    // or vice versa
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("merge upsert: sort-free outer hash join over ONE shared key " +
      "exchange — the join itself re-exchanges nothing") {
    val p = finalPlan(SparkEntry.queries("fs_merge_upsert")(spark, sf))
    // r17 shape: both sides read the ONE key-partitioned checkpointed
    // frame (mergeWith staged it on the null-safe join's exact keys
    // and PlanBridge restored the partitioning fact), so the visible
    // plan has NO hash exchange at all — the SHJ consumes the two
    // co-partitioned projections directly. r14's shape was one
    // exchange per side; the old union+max_by form planned
    // SortAggregate and sorted the 2×corpus union twice.
    assert(!p.contains("Exchange hashpartitioning"),
      s"join re-exchanged a side:\n$p")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("Scan ExistingRDD"), p) // the shared staged frame
    assert(!p.contains("SortAggregate") && !p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("minhash: candidates meet only through equi-joins") {
    val p = finalPlan(SparkEntry.queries("docs_minhash_neardup")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("es_docs publish plan reuses the cached entries input") {
    val p = finalPlan(SparkEntry.queries("fs_es_docs")(spark, sf))
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q6: every predicate pushed to the scan, no shuffle before the agg") {
    val p = finalPlan(SparkEntry.queries("q6_forecast_revenue")(spark, sf))
    // the canonical pushdown query: shipdate range, discount bounds and
    // quantity cap all reach parquet
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("l_shipdate"), p)
    assert(!p.contains("l_comment") && !p.contains("l_orderkey"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("decontaminate: eval set broadcasts; corpus side never sort-merges") {
    val p = finalPlan(SparkEntry.queries("docs_decontaminate")(spark, sf))
    // the eval n-gram set must reach the corpus as a broadcast hash join
    // (at 100 TB the corpus NEVER shuffles for the overlap check)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the per-doc overlap count partial-aggregates map-side
    assert(p.contains("partial_count"), p)
  }

  test("mergeReconcile: both windows share ONE shuffle on the merge key") {
    import org.apache.spark.sql.functions._
    val a = spark.range(0, 1000).select(
      concat(lit("k"), col("id")).as("relative_path"),
      col("id").as("modified_time"))
    val b = spark.range(500, 1500).select(
      concat(lit("k"), col("id")).as("relative_path"),
      (col("id") + 1).as("modified_time"))
    val q = operators.Merge.mergeReconcile(a, b, "relative_path",
      "modified_time")
    // final AQE section only — the appended "Initial Plan" echo would
    // double-count every exchange
    val p = { q.collect(); q.queryExecution.executedPlan.toString }
      .split("== Initial Plan ==")(0)
    // r14 join form: winner pick and key restriction ride ONE
    // right-outer hash join — each side exchanges once on the merge
    // key (prefixed __e_/__b_; null-safe coalesce/isnull wrapper since
    // r15), nothing shuffles on any other key, and nothing sorts
    val hashEx =
      "Exchange hashpartitioning\\((?:coalesce\\()?(?:__[eb]_)?([a-z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.nonEmpty && hashEx.forall(_ == "relative_path"),
      s"exchanges on: $hashEx\n$p")
    assert(hashEx.size <= 2, s"${hashEx.size} exchanges\n$p")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortAggregate") && !p.contains("SortMergeJoin"), p)
    assert(q.count() == 1000)
  }

  test("path-partitioned snapshot: prefix query prunes to one partition") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("planaudit-idx")
    val idx = new sinks.ParquetIndex(root.toString,
      partitionBy = Seq(sinks.ParquetIndex.PathPartitionCol))
    val df = spark.range(0, 1000).select(
      concat(lit("seg"), (col("id") % 10).cast("string"), lit("/f"),
        col("id").cast("string"), lit(".txt")).as("relative_path"),
      col("id").as("size_bytes"))
      .withColumn(sinks.ParquetIndex.PathPartitionCol,
        sinks.ParquetIndex.pathPartitionExpr(col("relative_path")))
    idx.write(df)
    val q = idx.read(spark).get
      .filter(sinks.ParquetIndex.pathPrefixFilter("seg3"))
    val p = { q.collect(); q.queryExecution.executedPlan.toString }
    // the ART-index replacement (SURVEY §4.1): the p0 equality became a
    // partition filter — only seg3's directory is scanned
    assert(p.contains("PartitionFilters: ["), p)
    assert("PartitionFilters: \\[[^\\]]*p0".r.findFirstIn(p).isDefined, p)
    assert(q.count() == 100)
    // and the residual relative_path predicate was pushed to parquet
    assert(p.contains("PushedFilters: ["), p)
  }
  test("asof join: no join operator at all — one window over the union") {
    val p = finalPlan(SparkEntry.queries("events_asof_join")(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the probe/build sides meet through a window, never a join
    assert(!p.contains("SortMergeJoin") && !p.contains("HashJoin"), p)
    assert(p.contains("Window"), p)
    // events.parquet is scanned with the needed columns only
    assert(!p.contains("props"), p)
  }

  test("range join: equi-join on the bin grid, never a nested loop") {
    val p = finalPlan(SparkEntry.queries("events_range_join")(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the inequality became an equi-join (hash strategy) on `bin`
    assert(p.contains("HashJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("tfidf: corpus-size scalar broadcasts; term joins are hash joins") {
    val p = finalPlan(SparkEntry.queries("docs_tfidf_topk")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastQueryStage"), p)
    // both aggregations combine map-side before their exchanges
    assert(p.contains("partial_count"), p)
  }

  test("lm familiarity: the trigram model broadcasts to the corpus scan") {
    val p = finalPlan(SparkEntry.queries("docs_lm_familiarity")(spark, sf))
    // at 100 TB the corpus NEVER shuffles to meet the (bounded) model
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
  }

  test("ppl buckets: scored docs meet the tercile cuts by broadcast only") {
    val p = finalPlan(SparkEntry.queries("docs_ppl_buckets")(spark, sf))
    // the corpus-side scored frame NEVER shuffles to meet the
    // |sources|-row cut table
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("source KL: marginals broadcast back to the (source, tri) counts") {
    val p = finalPlan(SparkEntry.queries("docs_source_kl")(spark, sf))
    // tri/source marginals are vocab-bounded broadcasts; the only
    // nested-loop is the 1-row corpus total
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("label confusion: corpus folds to |labels|*d before any join") {
    val p = finalPlan(SparkEntry.queries("ann_label_confusion")(spark, sf))
    // the (label, dim) centroid aggregate combines map-side; pairs meet
    // through a broadcast hash join on dim, never a cartesian
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("source overlap: pairs meet on the hash key, never doc-by-doc") {
    val p = finalPlan(SparkEntry.queries("docs_source_overlap")(spark, sf))
    // the self-join is an equi-join on text_hash (per-key fanout is
    // bounded by |sources|^2); a cartesian here would be doc-level
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("data card: one corpus pass feeds both bounded aggregations") {
    val p = finalPlan(SparkEntry.queries("docs_data_card")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    // per-source scalars and the entropy leg join back by broadcast
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("binary hamming: broadcast sketches, native partial top-k heaps") {
    val p = finalPlan(SparkEntry.queries("ann_binary_hamming")(spark, sf))
    // the 8-byte-sketch scan is one codegen pass: queries broadcast,
    // candidates never shuffle wider than the |q|*k heap outputs
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange") || p.contains("BroadcastQueryStage"), p)
    assert(p.contains("PartialGroupTopK") || p.contains("GroupTopK"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("funnel: every hash exchange rides the user_id partitioning") {
    val p = finalPlan(SparkEntry.queries("events_funnel")(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    val hashEx = "Exchange hashpartitioning\\(([a-z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.forall(_ == "user_id"), s"exchanges on: $hashEx\n$p")
  }

  test("source mixing: both windows and the agg share the source shuffle") {
    val p = finalPlan(SparkEntry.queries("docs_source_mixing")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    val hashEx = "Exchange hashpartitioning\\(([a-z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.nonEmpty && hashEx.forall(_ == "source"),
      s"exchanges on: $hashEx\n$p")
  }

  test("dup spans: pure heavy-hitter plan — no join operator at all") {
    val p = finalPlan(SparkEntry.queries("docs_dup_spans")(spark, sf))
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_count"), p)
  }

  test("semdedup: bounded centroid broadcast; pairs meet via hash join") {
    val p = finalPlan(SparkEntry.queries("ann_semdedup")(spark, sf))
    // the 8-row centroid product is the deliberate bounded broadcast
    // (same as IVF); the quadratic pair term must be an equi-join on the
    // cell key, never a global product
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin"), p)
  }

  test("retention: hash joins only, matrix agg combines map-side") {
    val p = finalPlan(SparkEntry.queries("events_retention")(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("anomaly: moment table broadcasts back; fact side never shuffles for the join") {
    val p = finalPlan(SparkEntry.queries("events_anomaly")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the K-row moment aggregation partial-aggregates map-side
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("kmeans step: integer partial sums; assignment joins by hash") {
    val p = finalPlan(SparkEntry.queries("ann_kmeans_step")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
    assert(p.contains("HashJoin"), p)
  }

  test("q14: one aggregation pass — conditional and total sums share the scan") {
    val p = finalPlan(SparkEntry.queries("q14_promo_revenue")(spark, sf))
    // both DECIMAL sums partial-aggregate map-side in a single pass;
    // a second scan of lineitem would show as two parquet scans
    assert(p.contains("partial_sum"), p)
    // one lineitem scan only — the executed (final) section of the AQE
    // dump; the text repeats the path in the trailing "Initial Plan"
    val finalSection = p.split("== Initial Plan ==")(0)
    assert("lineitem\\.parquet".r.findAllIn(finalSection).size <= 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q18: HAVING collapses the fact side before the joins; heap top-k") {
    val p = finalPlan(SparkEntry.queries("q18_large_orders")(spark, sf))
    // global top-100 must be the per-partition heap, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    // the per-order rollup partial-aggregates before its one exchange
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ivf recall audit: sampled queries broadcast, no corpus cartesian") {
    val p = finalPlan(SparkEntry.queries("ann_ivf_recall")(spark, sf))
    // the brute arm streams the corpus against the BROADCAST query
    // sample (BNLJ with a tiny build side — the sampled-audit shape);
    // a CartesianProduct would mean the sample stopped broadcasting
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // both rank windows shuffle on the query id only
    val hashEx = "Exchange hashpartitioning\\(([a-z_]+)".r
    val keys = hashEx.findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys.subsetOf(Set("q_id", "vec_id", "c_id")), s"$keys\n$p")
  }

  test("inverted index: term explode aggregates partially before one term shuffle") {
    val p = finalPlan(SparkEntry.queries("docs_inverted_index")(spark, sf))
    // posting lists and df build via partial (map-side) aggregation —
    // the explode's term stream must not shuffle raw
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p)
    val hashEx = "Exchange hashpartitioning\\(([a-z_]+)".r
    val keys = hashEx.findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys.subsetOf(Set("term", "doc_id")), s"$keys\n$p")
  }

  test("bucketed tables make the snapshot-merge join shuffle-free") {
    // PERF.md's standing claim — "at scale both sides bucketed by the
    // key make it shuffle-free" — demonstrated, not asserted: write the
    // two sides bucketed by the join key, force the shuffle-join path
    // (no broadcast), and the join must plan with ZERO exchanges. At
    // 100 TB this is the difference between re-shuffling the full index
    // every run and reading co-located buckets.
    import org.apache.spark.sql.functions._
    val old = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.range(0, 10000).select(
        concat(lit("k"), col("id")).as("relative_path"),
        col("id").as("size_bytes"))
      val b = spark.range(5000, 15000).select(
        concat(lit("k"), col("id")).as("relative_path"),
        (col("id") * 2).as("fsentry_sz"))
      spark.sql("DROP TABLE IF EXISTS pa_bucket_a")
      spark.sql("DROP TABLE IF EXISTS pa_bucket_b")
      // one writer task → exactly one file per bucket: Spark only
      // trusts (and reuses) the buckets' sort order in that layout
      a.coalesce(1).write.bucketBy(8, "relative_path")
        .sortBy("relative_path").saveAsTable("pa_bucket_a")
      b.coalesce(1).write.bucketBy(8, "relative_path")
        .sortBy("relative_path").saveAsTable("pa_bucket_b")
      val j = spark.table("pa_bucket_a")
        .join(spark.table("pa_bucket_b"), "relative_path")
      val p = finalPlan(j)
      assert(j.count() === 5000)
      assert(!p.contains("Exchange"),
        s"bucketed join still shuffles:\n$p")
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("Bucketed: true"), p)
      // (a per-partition Sort remains: Spark 4 ignores bucket sort
      // order by default — spark.sql.legacy.bucketedTableScanOutput-
      // Ordering — because multi-file buckets can't guarantee it. The
      // sort is local, spill-safe and cheap on pre-sorted files; the
      // exchange elimination above is the 100 TB win being pinned.)
    } finally {
      spark.sql("DROP TABLE IF EXISTS pa_bucket_a")
      spark.sql("DROP TABLE IF EXISTS pa_bucket_b")
      old match {
        case Some(v) => spark.conf.set(
          "spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("domain cap: native partial/final top-k, exchange rides the group key") {
    val p = finalPlan(SparkEntry.queries("docs_domain_cap")(spark, sf))
    assert(p.contains("GroupTopKPartial") && p.contains("GroupTopKFinal"), p)
    assert(!p.contains("Window"), p)
    val hashEx = "Exchange hashpartitioning\\(([a-z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.forall(_ == "source"), s"exchanges on: $hashEx\n$p")
  }

  test("AQE splits the skewed partition of a hot-key shuffle join") {
    // The OTHER half of the skew story next to SkewOps' manual salting:
    // at 100 TB a hot join key lands one monster partition on one
    // executor, and AQE's skew-join splits it at runtime. Pin that the
    // splitting actually fires on this session's plans: one key owning
    // ~all left rows, thresholds scaled down to toy data, broadcast off
    // so the join must shuffle.
    import org.apache.spark.sql.functions._
    val pairs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val hot = spark.range(200000).select(
        when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id"))
          .as("k"),
        col("id").as("payload"))
      val dim = spark.range(1000).select(col("id").as("k"),
        (col("id") * 3).as("attr"))
      val j = hot.join(dim, "k").groupBy().agg(count(lit(1)).as("n"))
      val p = finalPlan(j)
      assert(p.contains("skew=true"), s"skew split never fired:\n$p")
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a shuffle dim join") {
    // At 100 TB a fact-join-filtered-dim is a SHUFFLE join, and Spark's
    // runtime filtering injects a bloom filter from the dim side into
    // the fact scan — rows that can't join are dropped BEFORE the
    // exchange. Local data is broadcast-sized, so pin the behavior by
    // forcing the shuffle-join path and lowering the scan threshold;
    // the assertion is that the injection actually fires on our plans.
    val pairs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter("o_orderpriority = '1-URGENT'")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = finalPlan(j)
      assert(p.toLowerCase.contains("bloomfilter"), p)
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q19: disjunctive bundles push per-table residuals to BOTH scans") {
    val p = finalPlan(SparkEntry.queries("q19_disjunctive_revenue")(spark, sf))
    // the lineitem scan carries the OR of the quantity windows, the part
    // scan the OR of the brand/size bundles — neither side scans raw
    assert(p.contains("l_quantity"), p)
    assert(p.contains("Brand#12"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the cross-table OR itself evaluates at the join, not post-join
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")
      || p.contains("SortMergeJoin"), p)
  }

  test("q21: decorrelated EXISTS pair — aggregates, never a per-row rescan") {
    val p = finalPlan(SparkEntry.queries("q21_waiting_suppliers")(spark, sf))
    // the two correlated subqueries became ONE per-order aggregate of
    // plain min/max/sum partials (r16: the distinct-count tests are
    // min≠max rewrites, so no Expand doubles the joined rows), no
    // nested-loop/cartesian anywhere
    assert(p.contains("partial_min") && p.contains("partial_sum"), p)
    assert(!p.contains("Expand"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the returned-flag filter reached the lineitem scan
    assert(p.contains("l_returnflag"), p)
    // top-100 never globally sorts
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q2: min-cost join meets on (part, cost) — equi only, top-k heap") {
    val p = finalPlan(SparkEntry.queries("q2_min_cost_supplier")(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the part filter was pushed to its scan, not evaluated post-join
    assert(p.contains("p_size"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("keyset pagination: heap top-k, no window over the full queue") {
    val p = finalPlan(SparkEntry.queries("fs_stale_links_keyset")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "), p)
  }

  test("sharded packing: the running-sum window partitions by shard") {
    val p = finalPlan(
      SparkEntry.queries("docs_token_packing_sharded")(spark, sf))
    // the window's required distribution is the shard hash — one
    // bounded exchange, never a single-partition global sort
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"), p)
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("q13: outer join keeps zero-order customers; two-level aggregation") {
    val p = finalPlan(SparkEntry.queries("q13_order_distribution")(spark, sf))
    assert(p.contains("LeftOuter") || p.contains("RightOuter"), p)
    // the priority filter prunes the orders side BEFORE the join
    assert(p.contains("1-URGENT"), p)
    assert(p.contains("partial_count"), p)
  }

  test("chunking: per-row HOFs, no exchange before the output sort") {
    val p = finalPlan(SparkEntry.queries("docs_chunk_overlap")(spark, sf))
    // the only exchange in the plan is the rangepartitioning the final
    // ORDER BY needs — chunk generation itself never shuffles
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Window "), p)
  }

  test("winnowing: map-only until the output sort, pruned scan") {
    val p = finalPlan(SparkEntry.queries("docs_winnowing")(spark, sf))
    assert(!p.contains("hashpartitioning"), p)
    // only doc_id and text are read; the metadata columns are pruned
    assert(!p.contains("n_chars"), p)
  }

  test("hard negatives: broadcast query frame + native GroupTopK, no window") {
    val p = finalPlan(SparkEntry.queries("ann_hard_negatives")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("GroupTopK"), p)
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "), p)
  }

  test("label outliers: broadcast centroids, partial aggs, GroupTopK") {
    val p = finalPlan(SparkEntry.queries("ann_label_outliers")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
    assert(p.contains("GroupTopK"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("conversion lag: one user-key exchange with map-side partial mins") {
    val p = finalPlan(SparkEntry.queries("events_conversion_lag")(spark, sf))
    // conditional-min form: no self-join of the event log
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_min"), p)
    // the type filter is pushed into the parquet scan
    assert(p.contains("PushedFilters"), p)
    assert(p.toLowerCase.contains("in(event_type"), p)
  }

  test("dup regions: partial gram agg, no cartesian, islands window") {
    val p = finalPlan(SparkEntry.queries("docs_dup_regions")(spark, sf))
    // detection combines map-side before the gram-hash exchange
    assert(p.contains("partial_count"), p)
    // islands are one window over the covered set, no theta joins
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("nprobe sweep: the 4-value explode is the only nested loop") {
    val p = finalPlan(SparkEntry.queries("ann_nprobe_sweep")(spark, sf))
    // the crossJoin against the broadcast 4-row nprobe frame is the
    // deliberate bounded BNLJ; a raw cartesian anywhere is a regression
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // candidate scoring combines partially before any exchange
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("quality calibration: broadcast cuts, no window over the corpus") {
    val p = finalPlan(
      SparkEntry.queries("docs_quality_dup_calibration")(spark, sf))
    // decile assignment is a broadcast of the 1-row percentile frame —
    // a Window operator here would mean someone reintroduced the
    // global ntile sort the docstring forbids
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("source chunk overlap: equi-join matrix, no nested loops") {
    val p = finalPlan(
      SparkEntry.queries("docs_source_chunk_overlap")(spark, sf))
    // the self-join meets ONLY through the chunk-hash equi-key
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("train order: NEITHER declared form has a single-partition " +
    "exchange — both run the range-exchange positions core since r17") {
    // a SinglePartition exchange in either would mean someone
    // reintroduced the global-window serialization point
    val p = finalPlan(
      SparkEntry.queries("docs_train_order_ranged")(spark, sf))
    assert(!p.contains("SinglePartition"), p)
    // the ≤parts-row totals are applied in ONE streaming pass over the
    // range-partitioned rows (the running-sum core), not a join back
    assert(p.contains("MapPartitions"), p)
    val g = finalPlan(SparkEntry.queries("docs_train_order")(spark, sf))
    assert(!g.contains("SinglePartition"), g)
    assert(g.contains("MapPartitions"), g)
  }

  /** Every unpartitioned (one-task) window a declared query runs on
    * sf0.001 — a `Window` or `WindowGroupLimit` with no partition spec,
    * or the native top-k a global `row_number` filter rewrites to —
    * per query: (count, why its input is bounded).
    */
  private val boundedGlobalWindows: Map[String, (Int, String)] = Map(
    "fs_stale_links" -> (1, "numbers only the 200 rows the top-k " +
      "`limit(200)` keeps, to serve page rows 101-200"),
    "events_freq_topk" -> (2, "ranks the <= 10 entries approx_top_k " +
      "returns, and the 10 exact counts `limit(10)` keeps"),
    "fs_growth_timeline" -> (1, "running total over the monthly " +
      "aggregate: one row per calendar month"),
    "fs_growth_forecast" -> (1, "month ordinal over the same monthly " +
      "aggregate"),
    "ann_ivfpq_topk" -> (1, "ranks the quantizer's 8 cells by " +
      "distance to the query"),
    "ann_label_confusion" -> (1, "ranks the label pairs: " +
      "|labels|^2 / 2 rows after the corpus folds to label centroids"))

  test("declared queries run only the whitelisted unpartitioned windows") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.{WindowExec,
      WindowGroupLimitExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.plans.GroupTopKFinalExec
    object Plans extends AdaptiveSparkPlanHelper
    // every plan a query executes: the eager checkpoints its builder
    // runs as well as the final frame
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // collect(), not count(): column pruning would drop the windows
    val found = try SparkEntry.queries.keys.toSeq.sorted.map { q =>
      plans.clear()
      // the listener bus is ordered: once the recorder's window closes,
      // every execution of the query has been reported
      StageRecorder.recording(spark)(
        SparkEntry.queries(q)(spark, sf).collect())
      q -> plans.toArray(Array.empty[QueryExecution]).map(qe =>
        Plans.collectWithSubqueries(qe.executedPlan) {
          case w: WindowExec if w.partitionSpec.isEmpty => w
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
          case t: GroupTopKFinalExec if t.groupExprs.isEmpty => t
        }.size).sum
    }.filter(_._2 > 0).toMap
    finally spark.listenerManager.unregister(listener)
    assert(found == boundedGlobalWindows.map { case (q, (n, _)) => q -> n },
      s"unpartitioned windows per declared query: $found")
  }
}
