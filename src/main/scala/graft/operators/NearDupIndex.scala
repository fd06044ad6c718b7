package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import StoreUtil.{exists, readLeg}

/** Durable INCREMENTAL near-duplicate index — the production shape of
  * continuous dedup at corpus scale: a parquet-backed band store where a
  * new batch of documents hashes ONLY itself and probes the existing
  * bands, instead of re-running MinHash over the whole corpus per run
  * (the batch pass [[TextOps.minhashNearDup]] re-hashes everything; the
  * in-memory streaming twin [[graft.streaming.TextStream]] loses its
  * state with the query — this one persists it).
  *
  * Store layout under `dir/`:
  *   - `bands/`    (band_key, doc_id)        — the LSH postings
  *   - `shingles/` (doc_id, sh)              — for the exact-Jaccard verify
  *
  * Per update: already-indexed doc_ids are dropped first (anti-join on
  * the shingle membership list — a retried or duplicated batch is a
  * no-op), then candidates = new⋈store band postings ∪ new⋈new bands,
  * verified with the SAME rounded Jaccard ≥ threshold as the batch
  * operator, then the new postings/shingles are APPENDED (shingles
  * last: it is the membership list, so it doubles as the commit
  * marker and a torn update re-runs cleanly). Every pair is
  * reported exactly once across the update history (a pair surfaces in
  * the update that delivers its second member; later updates only probe
  * new×old and new×new). NearDupIndexSpec proves the union of
  * incremental results equals the full-corpus batch pass, and that a
  * re-sent batch appends nothing and reports nothing.
  *
  * Scale: the probe is an equi-join on band_key (same shape as the batch
  * band self-join, but one side is only the new batch); appends are
  * blind parquet writes; the verify joins are semi-join pruned to the
  * candidate ids, so no wide data beyond the candidates ever shuffles
  * per update. Store compaction
  * (many small appended files) is [[graft.sinks.DirCompaction]] — the
  * pointer-less sibling of ParquetIndex compaction, spec-proven to
  * leave update results unchanged.
  *
  * Lifecycle ([[Tombstones.Lifecycle]]): a deleted id stops surfacing
  * in [[probe]]/[[update]] pair results at once — both the band
  * postings and the verify shingles subtract the tombstones (a
  * scrubbed document must not veto the admission of a fresh
  * candidate) — and `compact` folds both legs.
  */
object NearDupIndex extends Tombstones.Lifecycle {

  protected val idCol = "doc_id"
  protected val legs = Seq("bands" -> Nil, "shingles" -> Nil)

  /** shingles rows — a footer-stats count, no data pages. */
  protected def rawRows(spark: SparkSession, dir: String): Long =
    spark.read.parquet(s"$dir/shingles").count()

  /** UPSERT a batch of (doc_id, text) — last-writer-wins by id, the
    * [[TermIndex.upsert]]/[[AnnIndex.upsert]] twin completing the
    * store trio's write lifecycle: present ids re-index with the new
    * text (their band keys and shingles CHANGE — the new generation
    * pairs by its new content), absent or previously-DELETED ids
    * insert, all with no compact between. Mechanism identical to the
    * siblings: the probe+append runs at a fresh generation inside
    * [[Tombstones.Lifecycle]]'s reader-atomic UPSERT ORDER, with the
    * membership check skipped and the batch ids excluded from the
    * store legs (a doc's old text must never pair against its
    * replacement). A concurrent [[probe]] anywhere in the window pairs
    * against the OLD versions, never a gap and never both generations.
    * Returns the pairs the new generations surface against the LIVE
    * store — note the one contract delta vs [[update]]'s
    * every-pair-exactly-once: a re-indexed document is a new document
    * VERSION, so a pair may legitimately re-surface with its new
    * content.
    */
  def upsert(spark: SparkSession, dir: String, docs: DataFrame,
      threshold: Double = 0.3,
      autoFoldAt: Double = AutoFoldAt): DataFrame =
    upserting(spark, dir, docs, autoFoldAt)(g =>
      run(spark, dir, docs, threshold, append = true, gen = g,
        overwrite = true))

  /** DESCRIBE the store — the observability row for the third store:
    * band-posting volume and key spread, indexed vs LIVE docs (the gap
    * is [[compact]]'s pending tombstone debt). Narrow columns only.
    */
  def describe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = readLeg(spark, s"$dir/bands")
    val br = bands.agg(count(lit(1)),
      countDistinct(col("band_key"))).head()
    val sh = readLeg(spark, s"$dir/shingles")
    val docs = // pre-gen store layouts lack the column
      if (sh.columns.contains("gen")) sh.select("doc_id", "gen")
      else sh.select("doc_id")
    val indexed = docs.count()
    val live = Tombstones.minus(spark, dir, docs, "doc_id",
      genCol = Some("gen")).count()
    Seq((br.getLong(0), br.getLong(1), indexed, live,
      Tombstones.pendingRows(spark, dir)))
      .toDF("band_rows", "distinct_band_keys", "indexed_docs",
        "live_docs", "tombstones")
  }

  /** Read-only serving call: which documents of `docs` near-duplicate
    * something ALREADY IN the store (or each other)? Same probe plan as
    * [[update]] but nothing is appended — the admission check a
    * curation service runs before deciding whether to keep a candidate
    * batch (reject dups, then `update` with the survivors).
    */
  def probe(spark: SparkSession, dir: String, docs: DataFrame,
      threshold: Double = 0.3): DataFrame =
    run(spark, dir, docs, threshold, append = false)

  /** Update the store at `dir` with `docs` (doc_id, text); returns the
    * NEW verified pairs (a_id < b_id, jac) this batch surfaced, fully
    * materialized (the caller may write them wherever pairs live).
    * Rows are stamped write-generation 0 — insert-only stores never
    * touch the [[GenMeta]] counter; [[upsert]] is the overwrite path.
    */
  def update(spark: SparkSession, dir: String, docs: DataFrame,
      threshold: Double = 0.3): DataFrame =
    run(spark, dir, docs, threshold, append = true)

  private[operators] def run(spark: SparkSession, dir: String, docs: DataFrame,
      threshold: Double, append: Boolean, gen: Long = 0L,
      overwrite: Boolean = false): DataFrame = {
    val bandsPath = s"$dir/bands"
    val shinglesPath = s"$dir/shingles"

    // An UPDATE is idempotent: already-indexed doc_ids are dropped via
    // anti-join on the shingle store's id set (the membership list,
    // written LAST — so it doubles as the commit marker and a torn
    // update re-runs cleanly), mirroring TermIndex.update's doclen
    // anti-join. Without it a retried batch appends duplicate shingle
    // rows and the verify join multiplies over them, re-reporting pairs
    // and breaking the "every pair exactly once" contract. A PROBE
    // deliberately keeps all incoming docs — the admission question
    // "does this near-duplicate anything in the store?" applies to
    // already-admitted ids too.
    // an UPSERT skips the membership check — re-sending a present id
    // is the intent; its older generations are excluded from the
    // probe legs explicitly below (the tombstone that will hide them
    // from later readers lands AFTER this call — commit-last order)
    val incoming =
      if (append && !overwrite && exists(spark, shinglesPath))
        docs.join(readLeg(spark, shinglesPath).select("doc_id"),
          Seq("doc_id"), "left_anti")
      else docs

    val fresh = incoming
      .withColumn("sh", expr(TextOps.shingles))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"),
        expr(graft.streaming.TextStream.bandKeysExpr).as("band_keys"))
      .localCheckpoint(true) // hash each new doc ONCE, not per consumer
    val freshBands = fresh
      .select(col("doc_id"), explode(col("band_keys")).as("band_key"))
    val freshSh = fresh.select(col("doc_id"), col("sh"))

    // store detection through Spark's Hadoop FS layer, not java.nio —
    // an hdfs:// or s3a:// store must not silently read as absent
    val hasStore = exists(spark, bandsPath)
    // tombstone subtraction on the SERVING side of both legs (band
    // postings here, store shingles below): a deleted document must
    // stop pairing immediately; the membership anti-join above stays
    // RAW so a hidden id cannot re-index before compact() folds it
    // an upsert's batch ids anti-join OUT of both store legs: the old
    // generations are still watermark-visible while this call runs
    // (the hiding tombstone commits after), and old-vs-new pairing of
    // the same id would be self-pairing across versions
    def dropBatchIds(df: DataFrame): DataFrame =
      if (overwrite)
        df.join(docs.select("doc_id"), Seq("doc_id"), "left_anti")
      else df
    val oldBands =
      if (hasStore)
        dropBatchIds(
          Tombstones.minus(spark, dir, readLeg(spark, bandsPath),
            "doc_id", genCol = Some("gen")))
          .select("doc_id", "band_key")
      else spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit("").as("band_key")).limit(0)

    // new×old meets through the store's postings; new×new through the
    // fresh bands' self-join — both pure equi-joins on band_key.
    val candNewOld = freshBands.as("n")
      .join(oldBands.as("o"), col("n.band_key") === col("o.band_key") &&
        col("n.doc_id") =!= col("o.doc_id")) // re-sent ids never self-pair
      .select(least(col("n.doc_id"), col("o.doc_id")).as("a_id"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("b_id"))
    val candNewNew = freshBands.as("x")
      .join(freshBands.as("y"), col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
    val cand = candNewOld.union(candNewNew).distinct()

    // verify against shingles from BOTH generations (an old doc's set
    // lives in the store; a new doc's in this batch's frame), SEMI-JOIN
    // pruned to candidate ids first: the wide shingle arrays of
    // non-candidate documents never shuffle through the verify joins —
    // per-update join cost is bounded by the candidate set, not the
    // corpus (the store scan itself streams once and is dominated by
    // the narrow id column after pruning)
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val allSh =
      (if (hasStore)
         dropBatchIds(
           Tombstones.minus(spark, dir,
             readLeg(spark, shinglesPath), "doc_id",
             genCol = Some("gen")))
           .select("doc_id", "sh").union(freshSh)
       else freshSh)
        .join(candIds, Seq("doc_id"), "left_semi")
    val pairs = cand
      .join(allSh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")),
        "a_id")
      .join(allSh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
        "b_id")
      .withColumn("jac", round(
        expr("size(array_intersect(a_sh, b_sh))").cast("double") /
          expr("size(array_union(a_sh, b_sh))"), 4))
      .filter(col("jac") >= threshold)
      .select("a_id", "b_id", "jac")
      .localCheckpoint(true) // materialize BEFORE the store mutates

    if (append) {
      freshBands.withColumn("gen", lit(gen))
        .write.mode("append").parquet(bandsPath)
      freshSh.withColumn("gen", lit(gen))
        .write.mode("append").parquet(shinglesPath)
    }
    pairs
  }
}
