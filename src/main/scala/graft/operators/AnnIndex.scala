package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import StoreUtil.{exists, readLeg}

/** Durable INCREMENTAL IVF vector index — the ANN twin of
  * [[NearDupIndex]]: centroids and cell postings persist as parquet, new
  * embedding batches assign themselves against the broadcast centroid
  * table and APPEND their postings, and a search probes only its nprobe
  * nearest cells. Postings are `partitionBy("c_id")`, so the probe's
  * literal cell filter becomes PARTITION PRUNING — a search touches
  * nprobe directories of the store, never the corpus
  * (AnnIndexSpec pins the pruned-scan plan).
  *
  * The quantizer is [[VectorOps]]' deterministic 8-seed coarse quantizer
  * (same assignment rule: min rounded L2, ties to the lower cell id), so
  * index-backed results are comparable to the `ann_topk_ivf` query; a
  * real deployment would re-seed centroids with `ann_kmeans_step`'s
  * Lloyd updates and rebuild — the store layout doesn't change.
  *
  * Scale: assignment is a map-side broadcast pass (K centroids);
  * appends are blind partitioned writes; search reads nprobe cells and
  * runs one TakeOrderedAndProject. Store compaction of many small
  * appended files is [[graft.sinks.DirCompaction]] (per cell
  * directory, partition layout preserved).
  *
  * Lifecycle ([[Tombstones.Lifecycle]]): every serving tier (exact,
  * ADC, Hamming, matryoshka — single-query and batch) reads
  * [[servingPostings]], so a deleted or dedup-dropped vector leaves
  * every top-k at once (`ann_hamming_indexed_deleted` gates it against
  * a from-scratch oracle on the post-delete corpus). `compact` folds
  * the postings (cell layout preserved — every surviving row keeps its
  * cell) and rebuilds the manifest in between the fold and the clear.
  * The manifest needs no delete-side upkeep: its blooms only
  * over-approximate membership, and after a fold the "maybe
  * duplicate" anti-join finds no postings row, so the id re-indexes.
  */
object AnnIndex extends Tombstones.Lifecycle {

  protected val idCol = "vec_id"
  protected val legs = Seq("postings" -> Seq("c_id"))

  /** Manifest id count (a few-row sum) or, pre-manifest, a
    * footer-stats postings count. The manifest only grows between
    * compacts — every upsert re-appends its member ids, deletes never
    * shrink it — which the debt subtraction offsets; [[afterFold]]
    * resets the drift to zero.
    */
  protected def rawRows(spark: SparkSession, dir: String): Long =
    if (exists(spark, manifestPath(dir)))
      spark.read.parquet(manifestPath(dir)).agg(sum("n")).head().getLong(0)
    else spark.read.parquet(s"$dir/postings").count()

  /** TRIM the manifest to the folded postings: between compacts it
    * over-approximates (upsert re-appends member ids; deletes never
    * shrink it) — the fold is the natural reset point. Crash-safe: a
    * crash after the delete leaves NO manifest, and the next update()
    * bootstraps one from the postings (the tested pre-manifest path);
    * membership over-approximation in the surviving states costs a
    * verify scan, never correctness.
    */
  override protected def afterFold(spark: SparkSession,
      dir: String): Unit =
    if (exists(spark, manifestPath(dir))) {
      val mp = new org.apache.hadoop.fs.Path(manifestPath(dir))
      mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(mp, true)
      appendManifest(spark, dir,
        spark.read.parquet(s"$dir/postings").select("vec_id"))
    }

  private def vecFns(spark: SparkSession): Unit =
    graft.functions.GraftFunctions.register(spark)

  private def dist2(a: String, b: String): org.apache.spark.sql.Column =
    expr(s"vec_dot($a, $a) - 2 * vec_dot($a, $b) + vec_dot($b, $b)")

  /** One deterministic Lloyd (k-means) update: assign every vector to
    * its nearest centroid (rounded L2, ties to the lower c_id — the
    * SAME rule update()/search() quantize with), then recompute each
    * cell's per-dimension mean in FIXED-POINT micro-units
    * (`floor(x·10⁶)` longs, floor-divided mean — the order-independent
    * arithmetic `ann_kmeans_step` uses, so training is bit-stable
    * across partitionings and re-runs). An emptied cell keeps its
    * previous centroid (k never shrinks). Output values are float, the
    * store's element type.
    */
  private def lloydStep(emb: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDist = Window.partitionBy("vec_id")
      .orderBy(col("d2"), col("c_id"))
    val assigned = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .withColumn("d2", round(dist2("embedding", "ce"), 4))
      .withColumn("rk", row_number().over(byDist))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("c_id"))
    val trained = emb.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"),
        floor(col("col").cast("double") * lit(1000000.0)).cast("long")
          .as("xq"))
      .join(assigned, Seq("vec_id"))
      .groupBy("c_id", "pos")
      .agg(count(lit(1)).as("n"), sum("xq").as("s"))
      .select(col("c_id"), col("pos"),
        (floor(col("s").cast("double") / col("n")) / lit(1000000.0))
          .cast("float").as("v"))
      .groupBy("c_id")
      .agg(expr("transform(sort_array(collect_list(struct(pos, v)))," +
        " x -> x.v)").as("ce_new"))
    cents.join(trained, Seq("c_id"), "left")
      .select(col("c_id"), coalesce(col("ce_new"), col("ce")).as("ce"))
  }

  /** Initialize the store: centroids = `lloydRounds` deterministic
    * k-means refinements of the seed vectors (vec_id 1–8) of `emb` —
    * a TRAINED coarse quantizer (store layout unchanged: same
    * (c_id, ce) table, same cell-partitioned postings); then index
    * every row of `emb`. `lloydRounds = 0` reproduces the old purely
    * seeded quantizer. AnnIndexSpec proves trained nprobe recall ≥
    * seeded recall on the test corpus.
    */
  def build(spark: SparkSession, dir: String, emb: DataFrame,
      lloydRounds: Int = 3): Unit = {
    vecFns(spark)
    // fail fast on re-building over live postings: overwriting the
    // centroids while update()'s membership anti-join skips every
    // already-indexed id would leave the postings partitioned under
    // the OLD assignment — searches would probe new cells against
    // stale layout and silently return wrong neighbors. Rebuild =
    // build into a fresh dir (or delete this store first).
    require(!exists(spark, s"$dir/postings"),
      s"build: $dir already has postings — a re-build cannot re-cell " +
        "them (updates skip indexed ids); build into a fresh dir")
    var cents = emb.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
    // fail fast on a corpus without the seed ids — an empty/partial
    // centroid table would make update() a silent no-op and search()
    // return nothing, with no error anywhere downstream
    val n = cents.count()
    require(n == 8, s"build: expected seed vectors vec_id 1..8 in the " +
      s"corpus (the deterministic coarse quantizer seeds), found $n — " +
      "pass a frame containing them or re-seed the quantizer")
    for (_ <- 1 to lloydRounds)
      cents = lloydStep(emb, cents).localCheckpoint(true)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    update(spark, dir, emb)
  }

  /** REBUILD into a fresh directory with RETRAINED centroids — the
    * production reindex path [[build]]'s fail-fast guard points at
    * ("rebuild = build into a fresh dir"): the live postings' raw
    * vectors are the training corpus (the store is its own source of
    * truth — no external table needed), `lloydRounds` deterministic
    * fixed-point Lloyd refinements start FROM the old centroid table
    * (warm start: the old quantizer is the best available initializer),
    * and every vector re-cells under the new assignment. The old store
    * is never touched — it keeps serving until the caller swaps its
    * pointer at the new dir, the same read-side atomicity discipline
    * as [[graft.sinks.ParquetIndex]]'s snapshot pointer. AnnIndexSpec
    * proves the rebuilt store serves brute-force-identical all-cells
    * results and its trained nprobe recall is never below the old
    * store's.
    */
  def rebuild(spark: SparkSession, oldDir: String, newDir: String,
      lloydRounds: Int = 3): Unit = {
    vecFns(spark)
    require(!exists(spark, s"$newDir/postings"),
      s"rebuild: $newDir already has postings — rebuild targets a " +
        "fresh dir (the old store keeps serving until the swap)")
    // tombstoned rows do NOT carry over: rebuild trains on and
    // re-indexes the LIVE corpus — the new store needs no tombstones;
    // metadata eras DO carry over (drop only the derived serving
    // columns — update() re-derives them under the new assignment)
    val emb = Tombstones.minus(spark, oldDir,
      readLeg(spark, s"$oldDir/postings"), "vec_id",
      genCol = Some("gen"))
      .drop(DerivedCols.toSeq: _*)
    var cents = spark.read.parquet(s"$oldDir/centroids")
    for (_ <- 1 to lloydRounds)
      cents = lloydStep(emb, cents).localCheckpoint(true)
    cents.coalesce(1).write.parquet(s"$newDir/centroids")
    update(spark, newDir, emb)
  }

  /** Assign a new embedding batch to cells and append its postings.
    * Already-indexed vec_ids are dropped first — by MANIFEST lookup by
    * default (range + bloom, ~KBs read however big the store; see the
    * manifest header below), or by the legacy postings anti-join under
    * `useManifest = false` (the narrow vec_id column of the store, the
    * same membership discipline as [[TermIndex.update]]) — so a
    * retried or duplicated batch appends nothing: without it a re-sent
    * vec_id would appear twice in top-k results, crowding out genuine
    * neighbors. The manifest row commits before the postings append
    * (over-approximation is safe); postings remain the store's only
    * data write, so a torn (crashed) update committed nothing and
    * re-runs cleanly.
    */
  /** PQ geometry: 4 subspaces over the store's centroid slices. */
  private val PqM = 4

  /** Columns [[update]] DERIVES and writes beside the caller's batch —
    * the serving columns (PQ codes, sign words, matryoshka prefix),
    * the write generation ([[GenMeta]] — 0 for inserts, fresh per
    * [[upsert]]) and the cell partition. Everything else in a posting
    * row is the caller's METADATA era (label + whatever a later batch
    * adds).
    */
  private val DerivedCols =
    Set("pq0", "pq1", "pq2", "pq3", "b_lo", "b_hi", "m16", "gen", "c_id")

  /** Matryoshka prefix width: the leading dims stored as their own
    * narrow column (`m16`) so stage-one prefix-cosine serving reads
    * 16 floats/row instead of the full vector — the MRL serving tier
    * `ann_matryoshka_recall` measured the recall curve for (dim 16 ≈
    * the knee of that curve on the test corpus; reference: Kusupati
    * et al. 2022, arXiv:2205.13147).
    */
  val MPrefix = 16

  private def subLenOf(cents: DataFrame): Int = {
    val d = cents.select(size(col("ce"))).limit(1).collect()(0).getInt(0)
    require(d % PqM == 0, s"embedding dim $d not divisible by $PqM")
    d / PqM
  }

  /** Per-subspace code assignment of `emb` against the store centroids'
    * matching slices — the shared [[Pq.subAssign]] argmin, codes =
    * centroid ids: the codebook is the stored (possibly Lloyd-trained)
    * centroid table, so serving and indexing can never disagree.
    */
  private def pqCodesOf(emb: DataFrame, cents: DataFrame,
      sub: Int): DataFrame =
    (0 until PqM).map { m =>
      Pq.subAssign(emb, cents, m, sub)
        .select(col("vec_id"), col("c_id").as(s"pq$m"))
    }.reduce((a, b) => a.join(b, Seq("vec_id")))

  // ------------------------------------------------------------------ //
  // MEMBERSHIP MANIFEST (DEFAULT since r11; the scan path remains as  //
  // a compatibility flag — r9 item #7 introduced it flag-gated, r10   //
  // probed it safe, r11 promoted it).                                 //
  // The legacy anti-join reads the postings' narrow vec_id column on  //
  // every incremental batch: measured flat through 640k vectors       //
  // (PERF.md r8), but it is O(store) and eventually dominates the     //
  // per-batch floor. The manifest is the named escalation: one row    //
  // appended per update — (n, min_id, max_id, bloom) — so membership  //
  // for a new batch reads the TINY manifest instead of the store:     //
  //   definitely-new  = id outside [min,max] of every row, OR bloom   //
  //                     miss → appended with ZERO postings reads      //
  //                     (the monotonic-id ingest common case);        //
  //   maybe-duplicate = range hit AND bloom hit → confirmed by the    //
  //                     exact anti-join (false positives cost a scan, //
  //                     never correctness).                           //
  // WRITE ORDER IS THE SAFETY ARGUMENT: the manifest row commits      //
  // BEFORE the postings append, so a torn update leaves a bloom that  //
  // OVER-approximates membership — extra "maybe" rows re-verify       //
  // exactly and re-append cleanly. (Postings-first would leave ids    //
  // the bloom doesn't know → false "definitely new" → duplicates.)    //
  // Blooms are fixed-geometry (1M items / 1% fpp ≈ 1.2 MB); a batch   //
  // larger than the geometry — the bootstrap pass inserts the WHOLE   //
  // store — splits into ≤1M-id ID RANGES, one manifest row each, so   //
  // no row's bloom ever saturates. Membership tests rows SEPARATELY   //
  // (range gate, then that row's own bloom): merging saturated blooms //
  // would just OR the degraded bit arrays back together.              //
  // ------------------------------------------------------------------ //

  private val ManifestBloomItems = 1000000L
  private val ManifestFpp = 0.01

  /** Target ids per manifest row — sized with headroom under the 1M
    * bloom geometry so the range partitioner's sampling skew can never
    * push a chunk past the fpp contract.
    */
  private val ManifestChunkTarget = 700000L

  private def manifestPath(dir: String) = s"$dir/manifest"

  private def appendManifest(spark: SparkSession, dir: String,
      ids: DataFrame): Unit = {
    import spark.implicits._
    val distinctIds = ids.distinct() // bootstrap postings may hold
    // multiple generations of an id after upserts — count each once
    val total = distinctIds.count()
    if (total == 0L) return // an all-duplicate batch: no new ids
    // ≤~700k ids per row: one fixed-geometry bloom holding the whole
    // store (bootstrap at 5M ids) would degrade fpp to tens of percent
    // and drag in-range appends back toward scan cost — RANGE-PARTITION
    // the ids (sampling-balanced, disjoint sorted ranges, one parallel
    // pass; no single-task global window) and build each row's bloom
    // executor-side in the same pass that finds its n/min/max
    val chunks = ((total - 1) / ManifestChunkTarget + 1).toInt
    val parts =
      if (chunks == 1) distinctIds.select("vec_id").coalesce(1)
      else distinctIds.select("vec_id")
        .repartitionByRange(chunks, col("vec_id"))
    parts.as[Long]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val bf = org.apache.spark.util.sketch.BloomFilter
            .create(ManifestBloomItems, ManifestFpp)
          var n = 0L
          var lo = Long.MaxValue
          var hi = Long.MinValue
          it.foreach { id =>
            bf.putLong(id)
            n += 1
            if (id < lo) lo = id
            if (id > hi) hi = id
          }
          // fail fast rather than silently degrade the 1% fpp: a
          // pathological sampling skew would have to overshoot the
          // 700k target by 43% to land here
          require(n <= ManifestBloomItems,
            s"manifest chunk holds $n ids > $ManifestBloomItems bloom " +
              "geometry — range partitioning skewed far past target")
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          Iterator.single((n, lo, hi, bos.toByteArray))
        }
      }.toDF("n", "min_id", "max_id", "bloom")
      .coalesce(1).write.mode("append").parquet(manifestPath(dir))
  }

  /** The manifest rows a batch spanning [lo, hi] could possibly match —
    * the PRE-COLLECT prune: only rows whose [min_id, max_id] intersects
    * the batch's id range load at all, as a pushed parquet filter
    * (row-group min/max stats skip the rest — AnnManifestSpec pins the
    * PushedFilters), so the driver pull is bounded by the batch's range
    * overlap, not the store's append history.
    */
  private[operators] def manifestCandidates(spark: SparkSession,
      dir: String, lo: Long, hi: Long): DataFrame =
    spark.read.parquet(manifestPath(dir))
      .filter(col("max_id") >= lo && col("min_id") <= hi)
      .select("min_id", "max_id", "bloom")

  /** Drop already-indexed ids from `batch` by MANIFEST lookup: range +
    * bloom split the batch into definitely-new rows (no postings read)
    * and maybe-duplicate rows (exact anti-join against `p`, usually
    * empty or tiny). First call on a pre-manifest store bootstraps the
    * manifest with one O(store) pass over the postings' id column —
    * paid once, after which membership never reads the store again.
    *
    * Scale shape of the lookup itself: candidate manifest rows prune
    * by the batch's [min, max] BEFORE the driver sees them
    * ([[manifestCandidates]]); the surviving entries BROADCAST once
    * (not captured per-task in a closure), and each id probes at most
    * the entries whose range can hold it — binary search on the
    * sorted min_ids, walking back only while the prefix-max of max_id
    * still covers the id — so per-id work is O(log entries + overlap),
    * not a linear scan of the append history.
    */
  private def manifestAntiJoin(spark: SparkSession, dir: String,
      batch: DataFrame, p: DataFrame): DataFrame = {
    if (!exists(spark, manifestPath(dir)))
      appendManifest(spark, dir, p.select("vec_id"))
    val r = batch.agg(min("vec_id"), max("vec_id")).head()
    if (r.isNullAt(0)) return batch // empty batch: nothing to drop
    val rows = manifestCandidates(spark, dir, r.getLong(0), r.getLong(1))
      .collect()
    if (rows.isEmpty) return batch // disjoint ranges: all definitely new
    // test rows SEPARATELY: each row's bloom holds ≤1M ids at 1% fpp,
    // and its [min,max] prunes most rows before any bloom bit is read —
    // merging the blooms would OR potentially-saturated bit arrays and
    // give back the degraded fpp the per-row split exists to avoid.
    // The probe itself is a native codegen Expression over the
    // broadcast entries ([[graft.functions.ManifestMember]] — bytes
    // ship once per executor, blooms deserialize once per executor):
    // no ScalaUDF node, so the membership filter stays inside
    // whole-stage codegen (AnnIndexSpec pins the plan).
    val bc = spark.sparkContext.broadcast(rows.map { row =>
      (row.getAs[Long]("min_id"), row.getAs[Long]("max_id"),
        row.getAs[Array[Byte]]("bloom"))
    })
    val (memberCol, dropFn) = graft.functions.ManifestMember
      .columnFor(spark, bc, "vec_id")
    // batch-sized checkpoint: the maybe/definite split feeds an isEmpty
    // probe and both union legs — the bloom probe must not run 3×
    val flagged =
      try batch.withColumn("__maybe", memberCol).localCheckpoint(true)
      finally dropFn() // analysis embedded the expression; the
    // session-registry name is transient per call
    val definite = flagged.filter(!col("__maybe")).drop("__maybe")
    val maybe = flagged.filter(col("__maybe")).drop("__maybe")
    if (maybe.isEmpty) definite
    else definite.unionByName(
      maybe.join(p.select("vec_id"), Seq("vec_id"), "left_anti"))
  }

  def update(spark: SparkSession, dir: String, emb: DataFrame,
      useManifest: Boolean = true): Unit =
    ingest(spark, dir, emb, useManifest, gen = 0L, overwrite = false)

  /** UPSERT a batch — last-writer-wins by vec_id, the [[TermIndex
    * .upsert]] twin for the vector store (the reference ES sink's
    * `{"index": {_id}}` overwrite actions,
    * elasticsearch_integration.py:403-409): present ids re-index with
    * the new embedding (re-quantized — the row may move cells), absent
    * or previously-DELETED ids insert, all without a store rewrite and
    * without a compact between delete and re-add. Order, as in every
    * store ([[Tombstones.Lifecycle]]'s UPSERT ORDER): the derive+append
    * pipeline ([[ingest]], membership check skipped — overwrite
    * intent) writes the new rows at a fresh generation FIRST, then the
    * batch ids are tombstoned at `gen - 1`, then the generation
    * commits. The tombstone hides every older row of those ids
    * wherever its cell is — which is why the vector store upserts via
    * tombstones rather than a read-side winner fold: cell-partition
    * pruning would hide a stale sibling cell from any per-probe fold.
    * A concurrent reader serves the OLD vector from its old cell until
    * the commit, never a gap and never both generations.
    * `ann_hamming_reindexed` gates serving bit-identical to a
    * from-scratch build on the post-upsert corpus. The manifest needs
    * no special handling: upserted ids are members
    * (over-approximation is its contract) and [[ingest]] appends
    * their manifest row as always.
    */
  def upsert(spark: SparkSession, dir: String, emb: DataFrame,
      autoFoldAt: Double = AutoFoldAt): Unit =
    upserting(spark, dir, emb, autoFoldAt)(g =>
      ingest(spark, dir, emb, useManifest = true, gen = g,
        overwrite = true))

  private[operators] def ingest(spark: SparkSession, dir: String, emb: DataFrame,
      useManifest: Boolean, gen: Long, overwrite: Boolean): Unit = {
    import org.apache.spark.sql.expressions.Window
    vecFns(spark)
    val postingsPath = s"$dir/postings"
    // ONE postings relation for both the schema guard and the
    // anti-join — two separate reads would pay partition discovery
    // and footer inference twice per incremental batch
    val postings =
      if (exists(spark, postingsPath))
        Some(readLeg(spark, postingsPath))
      else None
    postings.foreach { p =>
      // fail fast on a store written before postings carried PQ codes:
      // appending mixed schemas would make searchAdc silently drop (or
      // crash on) every pre-upgrade row depending on footer pick order
      require(p.columns.contains("pq0"),
        "update: postings lack PQ code columns (store predates the " +
          "IVF-PQ layout) — rebuild the store with build()")
      require(p.columns.contains("b_lo"),
        "update: postings lack binary sign-sketch columns (store " +
          "predates the Hamming tier) — rebuild the store with build()")
      require(p.columns.contains("m16"),
        "update: postings lack the matryoshka prefix column (store " +
          "predates the MRL tier) — rebuild the store with build()")
    }
    // ---- metadata-era alignment (additive-only schema evolution) ----
    // everything in the batch beyond the id and the vector is caller
    // METADATA and rides the postings write verbatim — label plus
    // whatever a later era adds (source, quality, ...). The contract is
    // the snapshot store's ([[Merge.alignEvolved]], reused here on the
    // append path): a batch may ADD metadata columns — existing rows
    // read them as null through the schema-merged serving scan, no
    // rewrite — but may never drop or retype a stored one.
    val reserved = Seq("vec_id", "embedding")
    val batchMeta = emb.columns.toSeq.filterNot(reserved.contains)
    require(batchMeta.contains("label"),
      "update: batch lacks the 'label' metadata column")
    batchMeta.foreach(c => require(!DerivedCols(c),
      s"update: metadata column '$c' collides with a derived posting " +
        "column"))
    val metaOrder: Seq[String] = postings match {
      case Some(p) =>
        val storedMeta = p.columns.toSeq.filterNot(c =>
          DerivedCols(c) || reserved.contains(c))
        // alignEvolved enforces additive-only + no-retype and yields
        // the union order (stored metadata first, then the batch's
        // additions) — plans only, nothing executes here
        val (_, aligned) = Merge.alignEvolved(
          p.select(storedMeta.map(col): _*),
          emb.select(batchMeta.map(col): _*))
        aligned.columns.toSeq
      case None => batchMeta
    }
    val rowCols = (col("vec_id") +: metaOrder.map(col)) :+ col("embedding")
    // materialize the batch ONCE: it feeds the cell assignment AND the
    // four PQ subspace passes — without the checkpoint the anti-join
    // plan (and its postings scan) would re-execute five times.
    // overwrite (upsert) SKIPS the membership check: re-sending a
    // present id is the intent, and the upsert tombstones its older
    // generations after this write
    val incoming =
      (if (overwrite) emb
       else postings.map(p =>
         if (useManifest) manifestAntiJoin(spark, dir, emb, p)
         else emb.join(p.select("vec_id"), Seq("vec_id"), "left_anti"))
         .getOrElse(emb))
        .select(rowCols: _*)
        .localCheckpoint(true)
    // manifest row commits BEFORE the postings append (see the manifest
    // header: torn update → over-approximating bloom → safe re-verify).
    // Once a store HAS a manifest, every update maintains it regardless
    // of the flag — otherwise a scan-path (useManifest=false, the
    // compatibility flag) update would append postings the manifest
    // doesn't know, and a later manifest-path update could classify
    // those ids "definitely new" and append them AGAIN (duplicate
    // vec_ids in top-k). The flag chooses how membership is CHECKED;
    // manifest maintenance follows the store's state.
    if (useManifest || exists(spark, manifestPath(dir)))
      appendManifest(spark, dir, incoming.select("vec_id"))
    val cents = spark.read.parquet(s"$dir/centroids")
    val byDist = Window.partitionBy("vec_id")
      .orderBy(col("d2"), col("c_id"))
    val assigned = incoming
      .crossJoin(broadcast(cents))
      .withColumn("d2", round(dist2("embedding", "ce"), 4))
      .withColumn("rk", row_number().over(byDist))
      .filter(col("rk") === 1)
      .select(rowCols :+ col("c_id"): _*)
    // PQ codes ride along in the same postings write (one commit): the
    // compressed-domain serving columns for searchAdc — 4 small ids a
    // 100 TB deployment can scan where raw vectors don't fit in memory
    // binary sign sketches ride the same commit: the 8-byte Hamming
    // serving tier beside the PQ codes (VectorOps.signWord — bit i set
    // iff component > 0, exact across engines and batches). Fail fast
    // beyond 64 dims: the two words cover dims 1..64, and a silently
    // truncated sketch would rank half-blind neighbors as nearest
    require(subLenOf(cents) * PqM <= 64,
      s"update: embedding dim ${subLenOf(cents) * PqM} exceeds the 64 " +
        "dims the Hamming sign sketch covers — widen the sketch words " +
        "before indexing higher-dimensional vectors")
    require(subLenOf(cents) * PqM >= MPrefix,
      s"update: embedding dim ${subLenOf(cents) * PqM} is narrower " +
        s"than the $MPrefix-dim matryoshka prefix column")
    assigned
      .join(pqCodesOf(incoming, cents, subLenOf(cents)), Seq("vec_id"))
      .withColumn("b_lo", VectorOps.signWord(1))
      .withColumn("b_hi", VectorOps.signWord(33))
      // the matryoshka prefix rides the same commit: 16 leading floats
      // as a NARROW column of their own, so the MRL stage-one scan
      // reads 64 bytes/row where the full vector is 4× that (and at a
      // production dim of 768+, 48× — the whole point of MRL serving)
      .withColumn("m16", expr(s"slice(embedding, 1, $MPrefix)"))
      // column order: id, metadata era (stored order + additions),
      // vector, derived serving columns (write generation last), cell
      .select(rowCols ++ Seq(
        col("pq0"), col("pq1"), col("pq2"), col("pq3"),
        col("b_lo"), col("b_hi"), col("m16"),
        lit(gen).as("gen"), col("c_id")): _*)
      .write.mode("append").partitionBy("c_id").parquet(postingsPath)
  }

  /** The postings as every SERVING tier must read them: tombstoned
    * rows subtracted (a tiny broadcast anti-join; absent tombstones →
    * the exact raw scan, so tombstone-free stores keep their pinned
    * plan shapes). [[update]]'s membership check deliberately reads
    * the RAW postings instead — a tombstoned id stays "known" until
    * [[compact]] folds it out.
    */
  private[operators] def servingPostings(spark: SparkSession,
      dir: String): DataFrame =
    Tombstones.minus(spark, dir,
      readLeg(spark, s"$dir/postings"), "vec_id",
      genCol = Some("gen"))

  /** DESCRIBE the store — the [[graft.sinks.ParquetIndex.describe]]
    * observability discipline for the vector index: one row of the
    * numbers a vector tier alarms on (postings volume and cell fill;
    * indexed vs LIVE counts, whose gap is the tombstone debt
    * [[compact]] will fold; manifest rows/ids so membership-path
    * health is visible; the metadata-era columns currently stored).
    * Reads narrow columns only — never the vectors.
    */
  def describe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val posts = readLeg(spark, s"$dir/postings")
    val pr = posts.agg(count(lit(1)), countDistinct(col("c_id"))).head()
    val narrowPosts = // pre-gen store layouts lack the column
      if (posts.columns.contains("gen")) posts.select("vec_id", "gen")
      else posts.select("vec_id")
    val live = Tombstones.minus(spark, dir, narrowPosts, "vec_id",
      genCol = Some("gen")).count()
    val tombs = Tombstones.pendingRows(spark, dir)
    val (manRows, manIds) =
      if (exists(spark, manifestPath(dir))) {
        val m = spark.read.parquet(manifestPath(dir))
          .agg(count(lit(1)), sum("n")).head()
        (m.getLong(0), m.getLong(1))
      } else (0L, 0L)
    val cells = spark.read.parquet(s"$dir/centroids").count()
    val metaCols = posts.columns.toSeq.filterNot(c =>
      DerivedCols(c) || c == "vec_id" || c == "embedding")
    Seq((pr.getLong(0), live, tombs, pr.getLong(1), cells,
      storeDimOf(spark, dir).toLong, manRows, manIds,
      metaCols.mkString(",")))
      .toDF("postings_rows", "live_rows", "tombstones",
        "cells_occupied", "cells_total", "dim", "manifest_rows",
        "manifest_ids", "meta_columns")
  }

  /** Driver-side twin of [[VectorOps.signWord]] for a literal query:
    * bits [0, 31] of the word are components [lo, lo+31] (1-based),
    * set iff > 0.
    */
  private def signWordOf(query: Seq[Float], lo: Int): Long =
    query.slice(lo - 1, lo + 31).zipWithIndex
      .foldLeft(0L) { case (acc, (v, i)) =>
        if (v > 0f) acc | (1L << i) else acc
      }

  /** Cheapest serving tier: top-k by Hamming distance over the stored
    * 8-byte sign sketches of the nprobe nearest cells — the scan reads
    * ONLY (vec_id, label, b_lo, b_hi) plus the partition column (column
    * pruning drops the raw vectors AND the PQ codes), per-row work is
    * two XOR+POPCNT, and the cell filter still prunes store partitions.
    * Use it as the stage-one shortlist under [[search]]'s exact
    * re-rank (`ann_binary_recall` measures the width that makes the
    * two-stage pipeline safe).
    */
  def searchHamming(spark: SparkSession, dir: String, query: Seq[Float],
      k: Int = 10, nprobe: Int = 2,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    vecFns(spark)
    require(query.length <= 64,
      s"searchHamming: query dim ${query.length} exceeds the 64 dims " +
        "the sign sketch covers — the Hamming tier would be blind to " +
        "the tail components")
    val (probed, nCells) =
      probedCells(spark, dir, query, nprobe, countCells = obs.isDefined)
    val (qLo, qHi) = (signWordOf(query, 1), signWordOf(query, 33))
    val scan = servingPostings(spark, dir)
      .filter(col("c_id").isin(probed.toIndexedSeq: _*))
      .select(col("vec_id"), col("label"),
        (expr(s"bit_count(b_lo ^ ${qLo}L)") +
          expr(s"bit_count(b_hi ^ ${qHi}L)")).as("hamming"))
    observed(scan, obs, probed.length, nCells)
      .orderBy(col("hamming"), col("vec_id"))
      .limit(k)
  }

  /** The nprobe nearest cells of `query` — the shared cell-selection
    * step of every serving tier. The centroid table is tiny, so this
    * collects nprobe ints to the driver and callers filter postings
    * with LITERAL c_id values: int literals against the
    * (integer-inferred) partition column, so the filter prunes store
    * partitions at planning time (a cast on the COLUMN side would
    * defeat it).
    */
  private def probedCells(spark: SparkSession, dir: String,
      query: Seq[Float], nprobe: Int,
      countCells: Boolean = false): (Array[Int], Long) = {
    val cents = spark.read.parquet(s"$dir/centroids")
    val probed = cents
      .withColumn("qe", typedLit(query))
      .withColumn("d2", round(dist2("ce", "qe"), 4))
      .orderBy(col("d2"), col("c_id"))
      .limit(nprobe)
      .select(col("c_id").cast("int")).collect().map(_.getInt(0))
    // cells_total feeds only the Observation metrics — counting it
    // unconditionally would add one Spark job to EVERY latency-
    // sensitive single-query serve (and quietly pad the single-query
    // arm of the batchserve comparison), so the count runs only when
    // a caller actually supplied an Observation to record it in
    (probed, if (countCells) cents.count() else -1L)
  }

  /** Attach the serving-observability metrics to a pruned postings
    * scan — the numbers a production vector tier alarms on: how many
    * postings rows the probe actually read (`postings_rows_read`,
    * counted at the scan BEFORE the top-k cut) and how much of the
    * store it touched (`cells_probed` of `cells_total`). A
    * `CollectMetrics` node costs one count + two literal maxes per
    * batch, references no extra columns (column pruning and partition
    * pruning are unaffected — AnnServeMetricsSpec pins both), and the
    * caller reads the values from the passed [[Observation]] after the
    * action completes.
    */
  private def observed(df: org.apache.spark.sql.DataFrame,
      obs: Option[org.apache.spark.sql.Observation],
      probed: Int, total: Long): org.apache.spark.sql.DataFrame =
    obs.fold(df)(o => df.observe(o,
      count(lit(1)).as("postings_rows_read"),
      max(lit(probed)).as("cells_probed"),
      max(lit(total)).as("cells_total")))

  /** The BATCH twin of [[observed]], attached to the post-cell-join
    * candidate frame (it still carries `q_id` and `c_id`). A batch has
    * no driver-collected cell list to quote as literals, so the
    * per-query breadth metrics come from the frame itself via
    * `approx_count_distinct` — approximate (Spark's HLL++ omits the
    * sparse exact-at-small-cardinality representation, so these are
    * estimates even for tiny request batches, typically exact in
    * practice but not contractually) and within 5% at any scale;
    * `postings_rows_read` stays an exact count. One
    * CollectMetrics node, no extra jobs, no extra column references —
    * pruning and the GroupTopK rewrite are unaffected.
    */
  private def observedAll(df: org.apache.spark.sql.DataFrame,
      obs: Option[org.apache.spark.sql.Observation])
      : org.apache.spark.sql.DataFrame =
    obs.fold(df)(o => df.observe(o,
      count(lit(1)).as("postings_rows_read"),
      approx_count_distinct(col("q_id")).as("queries_served"),
      approx_count_distinct(struct(col("q_id"), col("c_id")))
        .as("cells_probed")))

  /** Top-k cosine neighbors of `query` from the nprobe nearest cells. */
  def search(spark: SparkSession, dir: String, query: Seq[Float],
      k: Int = 10, nprobe: Int = 2): DataFrame = {
    vecFns(spark)
    val q = typedLit(query)
    val (probed, _) = probedCells(spark, dir, query, nprobe)
    servingPostings(spark, dir)
      .filter(col("c_id").isin(probed.toIndexedSeq: _*))
      .withColumn("qe", q)
      .withColumn("cos_sim", round(
        expr("vec_dot(embedding, qe)") /
          (sqrt(expr("vec_dot(embedding, embedding)")) *
            sqrt(expr("vec_dot(qe, qe)"))), 4))
      .select(col("vec_id"), col("label"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF-PQ serving from the store: top-k by ASYMMETRIC DISTANCE over
    * the nprobe nearest cells' stored PQ codes — the scan never touches
    * the `embedding` column (column pruning drops it), its per-row
    * work is 4 broadcast-table lookups + 3 adds, and the cell filter
    * still prunes store partitions. The approximation IVF-PQ systems
    * serve with; [[search]] (exact cosine over the probed cells) is
    * the re-ranking tier above it.
    */
  def searchAdc(spark: SparkSession, dir: String, query: Seq[Float],
      k: Int = 10, nprobe: Int = 2,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    vecFns(spark)
    val q = typedLit(query)
    val cents = spark.read.parquet(s"$dir/centroids")
    val sub = subLenOf(cents)
    require(query.length == sub * PqM,
      s"query dim ${query.length} != store dim ${sub * PqM}")
    val (probed, nCells) =
      probedCells(spark, dir, query, nprobe, countCells = obs.isDefined)
    // M×K lookup table: query slice → every centroid slice, broadcast
    val lut = (0 until PqM).map { m =>
      val off = m * sub + 1
      cents.withColumn("qe", q)
        .select(col("c_id").as(s"pq$m"),
          round(expr(s"vec_dist2(slice(qe, $off, $sub), " +
            s"slice(ce, $off, $sub))"), 4).as(s"qd$m"))
    }
    val base = observed(
      servingPostings(spark, dir)
        .filter(col("c_id").isin(probed.toIndexedSeq: _*))
        .select(col("vec_id"), col("label"),
          col("pq0"), col("pq1"), col("pq2"), col("pq3")),
      obs, probed.length, nCells)
    (0 until PqM).foldLeft(base)((df, m) =>
      df.join(broadcast(lut(m)), Seq(s"pq$m")))
      .select(col("vec_id"), col("label"),
        round(col("qd0") + col("qd1") + col("qd2") + col("qd3"), 4)
          .as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id"))
      .limit(k)
  }

  /** MATRYOSHKA two-stage serving from the store: stage one ranks the
    * nprobe nearest cells by PREFIX cosine over the stored 16-dim
    * `m16` column — the scan reads 64 bytes/row (column pruning drops
    * the full vectors, PQ codes, and sign words; AnnIndexSpec pins the
    * ReadSchema) — and stage two re-ranks ONLY the `shortK`-row
    * shortlist by full-dim exact cosine (the broadcast shortlist makes
    * the re-rank join a map-side filter, so full-width vectors decode
    * for shortK rows regardless of corpus size). The
    * [[searchHamming]]→[[search]] discipline with the MRL prefix as
    * the cheap tier: `ann_matryoshka_recall` measures the shortlist
    * width that makes the two-stage pipeline safe per prefix dim.
    */
  def searchMatryoshka(spark: SparkSession, dir: String,
      query: Seq[Float], k: Int = 10, nprobe: Int = 2, shortK: Int = 50,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    vecFns(spark)
    // == store dim (not just >= prefix): stage 2 scores the shortlist
    // with the FULL vectors, and vec_dot yields NULL on a length
    // mismatch — a wrong-dim query would silently return k rows ranked
    // by null cos_sim instead of failing fast like searchAdc
    val sd = storeDimOf(spark, dir)
    require(query.length == sd,
      s"searchMatryoshka: query dim ${query.length} != store dim $sd")
    val (probed, nCells) =
      probedCells(spark, dir, query, nprobe, countCells = obs.isDefined)
    val cellFilter = col("c_id").isin(probed.toIndexedSeq: _*)
    val stage1 = servingPostings(spark, dir)
      .filter(cellFilter)
      .select(col("vec_id"), col("m16"))
      .withColumn("q16", typedLit(query.take(MPrefix)))
      .withColumn("pcos", round(expr("vec_dot(m16, q16)") /
        (sqrt(expr("vec_dot(m16, m16)")) *
          sqrt(expr("vec_dot(q16, q16)"))), 4))
    val short = observed(stage1, obs, probed.length, nCells)
      .orderBy(col("pcos").desc, col("vec_id"))
      .limit(shortK)
      .select("vec_id")
    servingPostings(spark, dir)
      .filter(cellFilter)
      .join(broadcast(short), "vec_id")
      .withColumn("qe", typedLit(query))
      .withColumn("cos_sim", round(
        expr("vec_dot(embedding, qe)") /
          (sqrt(expr("vec_dot(embedding, embedding)")) *
            sqrt(expr("vec_dot(qe, qe)"))), 4))
      .select(col("vec_id"), col("label"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** BATCH matryoshka serving: the two-stage prefix pipeline for a
    * whole query frame (q_id, qe) in one plan — completes the
    * single/batch symmetry across all four serving tiers (exact, ADC,
    * Hamming, MRL). Stage 1: ONE prefix-column scan of the union of
    * all queries' probed cells, per-query prefix-cosine shortlist on
    * GroupTopK; stage 2: ONE raw-vector pass over the (q_id, vec_id)
    * shortlist join, per-query exact top-k. Bit-identical per query to
    * [[searchMatryoshka]] (AnnIndexSpec pins it).
    */
  def searchAllMatryoshka(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int = 10, nprobe: Int = 2,
      shortK: Int = 50,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    vecFns(spark)
    queryDims(queries).foreach { case (dMin, dMax) =>
      val sd = storeDimOf(spark, dir)
      // == store dim, not just >= prefix: stage 2's vec_dot returns
      // NULL on a length mismatch, which would silently rank the
      // shortlist by null scores instead of failing fast
      require(dMin == sd && dMax == sd,
        s"searchAllMatryoshka: query dims [$dMin, $dMax] != store " +
          s"dim $sd — same guard as searchMatryoshka")
    }
    val cents = spark.read.parquet(s"$dir/centroids")
    val probed = probedAll(queries, cents, nprobe)
    val q16 = queries.select(col("q_id"),
      expr(s"slice(qe, 1, $MPrefix)").as("q16"))
    // the observation sits on the STAGE-1 prefix scan (the corpus-∝
    // pass), mirroring searchMatryoshka's placement
    val stage1 = observedAll(servingPostings(spark, dir)
      .join(probed, Seq("c_id")), obs)
      .select(col("q_id"), col("vec_id"), col("m16"))
      .join(broadcast(q16), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(expr("vec_dot(m16, q16)") /
          (sqrt(expr("vec_dot(m16, m16)")) *
            sqrt(expr("vec_dot(q16, q16)"))), 4).as("pcos"))
    val short = graft.plans.GroupTopK.topK(stage1,
      groupCols = Seq("q_id"),
      orderKeys = Seq(("pcos", true), ("vec_id", false)), k = shortK)
      .select("q_id", "vec_id")
    val scored = servingPostings(spark, dir)
      .join(probed, Seq("c_id"))
      .join(broadcast(short), Seq("q_id", "vec_id"))
      .join(queries, Seq("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        round(expr("vec_dot(embedding, qe)") /
          (sqrt(expr("vec_dot(embedding, embedding)")) *
            sqrt(expr("vec_dot(qe, qe)"))), 4).as("cos_sim"))
    graft.plans.GroupTopK.topK(scored,
      groupCols = Seq("q_id"),
      orderKeys = Seq(("cos_sim", true), ("vec_id", false)), k = k)
      .select("q_id", "vec_id", "label", "cos_sim", "rk")
  }

  /** BATCH serving: top-k neighbors for a whole frame of queries
    * (q_id, qe) in one plan — the offline-inference shape (embed a
    * shard of requests, answer all of them in one pass). Per query:
    * its nprobe nearest cells via a bounded per-query rank over the
    * broadcast centroid cross (K×Q tiny), then ONE equi-join of the
    * probed (q_id, c_id) pairs against the postings, and the per-query
    * top-k runs on the NATIVE GroupTopK operator — bounded map-side
    * heaps per q_id, so the exchange carries ≤ partitions × queries × k
    * rows instead of every scored candidate.
    */
  def searchAll(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 10, nprobe: Int = 2,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    vecFns(spark)
    val cents = spark.read.parquet(s"$dir/centroids")
    val probed = graft.plans.GroupTopK.topK(
      queries.crossJoin(broadcast(cents))
        .withColumn("d2", round(dist2("qe", "ce"), 4))
        .select(col("q_id"), col("c_id"), col("d2")),
      groupCols = Seq("q_id"),
      orderKeys = Seq(("d2", false), ("c_id", false)),
      k = nprobe)
      .select(col("q_id"), col("c_id"))
    val scored = observedAll(servingPostings(spark, dir)
      .join(probed, Seq("c_id")), obs)
      .join(queries, Seq("q_id"))
      .withColumn("cos_sim", round(
        expr("vec_dot(embedding, qe)") /
          (sqrt(expr("vec_dot(embedding, embedding)")) *
            sqrt(expr("vec_dot(qe, qe)"))), 4))
      .select(col("q_id"), col("vec_id"), col("label"), col("cos_sim"))
    graft.plans.GroupTopK.topK(scored,
      groupCols = Seq("q_id"),
      orderKeys = Seq(("cos_sim", true), ("vec_id", false)),
      k = k)
      .select("q_id", "vec_id", "label", "cos_sim", "rk")
  }

  /** The shared batch cell-selection step: each query's nprobe nearest
    * cells via a bounded per-query rank over the broadcast centroid
    * cross (K×Q tiny) — the batch twin of [[probedCells]]' driver-side
    * collect, same assignment rule (rounded d2, ties to the lower
    * c_id), so batch and single-query serving probe identical cells.
    */
  private def probedAll(queries: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    graft.plans.GroupTopK.topK(
      queries.crossJoin(broadcast(cents))
        .withColumn("d2", round(dist2("qe", "ce"), 4))
        .select(col("q_id"), col("c_id"), col("d2")),
      groupCols = Seq("q_id"),
      orderKeys = Seq(("d2", false), ("c_id", false)),
      k = nprobe)
      .select("q_id", "c_id")

  /** BATCH IVF-PQ serving: ADC top-k for a whole query frame
    * (q_id, qe) in one plan — [[searchAll]]'s compressed twin and the
    * offline-inference shape at [[searchAdc]]'s storage cost: per-query
    * nprobe cells via [[probedAll]], ONE equi-join of the probed
    * (q_id, c_id) pairs against the postings' code columns (the raw
    * `embedding` column is never read), the M per-(query, centroid)
    * ADC LUTs broadcast (Q×K rows each), and the per-query top-k on
    * the native GroupTopK operator — the exchange carries ≤
    * partitions × queries × k rows, never every scored candidate.
    * Per-query results are bit-identical to [[searchAdc]]
    * (AnnIndexSpec pins it).
    */
  /** min/max of `size(qe)` over a (small) query frame — one tiny job,
    * paid once per BATCH, so the batch tiers can enforce the same
    * dimension guards their single-query twins enforce: without them a
    * wrong-dim query frame would silently serve sketch-blind
    * (Hamming) or mis-sliced (ADC) rankings where the single-query
    * path fails fast, despite the bit-identical-behavior contract.
    * None for an EMPTY frame — the guards are vacuous there and the
    * pipelines flow through to an empty result (getInt on the null
    * aggregate would NPE, regressing a no-op shard to a crash).
    */
  private def queryDims(queries: DataFrame): Option[(Int, Int)] = {
    val r = queries
      .agg(min(size(col("qe"))), max(size(col("qe")))).head()
    if (r.isNullAt(0)) None else Some((r.getInt(0), r.getInt(1)))
  }

  /** The store's full vector dimension, memoized per dir (a store's
    * dimension is fixed at build; rebuilds replace the dir contents
    * but never the dimension) — so the matryoshka guards cost one tiny
    * centroid read per dir per JVM, not one per serve.
    */
  private val storeDims =
    new java.util.concurrent.ConcurrentHashMap[String, Int]
  private def storeDimOf(spark: SparkSession, dir: String): Int =
    storeDims.computeIfAbsent(dir, _ =>
      spark.read.parquet(s"$dir/centroids")
        .select(size(col("ce"))).head().getInt(0))

  def searchAllAdc(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 10, nprobe: Int = 2,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    vecFns(spark)
    val cents = spark.read.parquet(s"$dir/centroids")
    val sub = subLenOf(cents)
    queryDims(queries).foreach { case (dMin, dMax) =>
      require(dMin == sub * PqM && dMax == sub * PqM,
        s"searchAllAdc: query dims [$dMin, $dMax] != store dim " +
          s"${sub * PqM} — same guard as searchAdc")
    }
    val lut = (0 until PqM).map { m =>
      val off = m * sub + 1
      queries.crossJoin(broadcast(cents))
        .select(col("q_id"), col("c_id").as(s"pq$m"),
          round(expr(s"vec_dist2(slice(qe, $off, $sub), " +
            s"slice(ce, $off, $sub))"), 4).as(s"qd$m"))
    }
    val base = observedAll(servingPostings(spark, dir)
      .join(probedAll(queries, cents, nprobe), Seq("c_id")), obs)
      .select(col("q_id"), col("vec_id"), col("label"),
        col("pq0"), col("pq1"), col("pq2"), col("pq3"))
    val scored = (0 until PqM).foldLeft(base)((df, m) =>
      df.join(broadcast(lut(m)), Seq("q_id", s"pq$m")))
      .select(col("q_id"), col("vec_id"), col("label"),
        round(col("qd0") + col("qd1") + col("qd2") + col("qd3"), 4)
          .as("adc_d2"))
    graft.plans.GroupTopK.topK(scored,
      groupCols = Seq("q_id"),
      orderKeys = Seq(("adc_d2", false), ("vec_id", false)),
      k = k)
      .select("q_id", "vec_id", "label", "adc_d2", "rk")
  }

  /** BATCH Hamming serving — the cheapest batch tier: each query's
    * sign words are computed IN-PLAN from `qe` and broadcast beside
    * its probed cells; per-row work against the stored 8-byte sketches
    * is two XOR+POPCNT (embeddings AND PQ codes never read); per-query
    * top-k on GroupTopK. Bit-identical per query to [[searchHamming]]
    * (AnnIndexSpec pins it), including the dim ≤ 64 fail-fast guard
    * (a wider query would be sketch-blind past dim 64).
    */
  def searchAllHamming(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int = 10, nprobe: Int = 2,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    vecFns(spark)
    queryDims(queries).foreach { case (_, dMax) =>
      require(dMax <= 64,
        s"searchAllHamming: query dim $dMax exceeds the 64 dims the " +
          "sign sketch covers — same guard as searchHamming")
    }
    val cents = spark.read.parquet(s"$dir/centroids")
    val qWords = queries.select(col("q_id"), col("qe").as("embedding"))
      .withColumn("q_lo", VectorOps.signWord(1))
      .withColumn("q_hi", VectorOps.signWord(33))
      .select("q_id", "q_lo", "q_hi")
    val scored = observedAll(servingPostings(spark, dir)
      .join(probedAll(queries, cents, nprobe), Seq("c_id")), obs)
      .join(broadcast(qWords), Seq("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        (expr("bit_count(b_lo ^ q_lo)") +
          expr("bit_count(b_hi ^ q_hi)")).as("hamming"))
    graft.plans.GroupTopK.topK(scored,
      groupCols = Seq("q_id"),
      orderKeys = Seq(("hamming", false), ("vec_id", false)),
      k = k)
      .select("q_id", "vec_id", "label", "hamming", "rk")
  }
}
