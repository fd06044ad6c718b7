package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import StoreUtil.{exists, readLeg}

/** Durable INCREMENTAL inverted text index — the third of the store
  * trio ([[NearDupIndex]] = LSH bands, [[AnnIndex]] = IVF cells, this =
  * term postings): the Spark-native counterpart of the Elasticsearch
  * index the reference delegates relevance search to
  * (elasticsearch_integration.py bulk index + `multi_match` query).
  * Instead of shipping documents to an external search engine, the
  * postings live as parquet the same executors that produced them can
  * serve BM25 from.
  *
  * Store layout under `dir/`:
  *   - `postings/` (term, doc_id, tf) partitioned by `t_b` =
  *     crc32(term) mod [[NBuckets]] — a search's terms map to literal
  *     bucket values, so the scan PRUNES store partitions (TermIndexSpec
  *     pins the pruned plan), the parquet analogue of ES routing a term
  *     query to its shards.
  *   - `doclen/` (doc_id, dl) — per-document token counts for the BM25
  *     length norm; also the store's membership list (updates anti-join
  *     it, so re-sending a batch is a no-op) and its commit marker
  *     (written AFTER postings: a torn update re-runs cleanly).
  *
  * Scale shape: an update tokenizes ONLY its batch (one groupBy on
  * (doc_id, term), map-side combinable) and blind-appends; a search
  * reads |terms| buckets of the store — never the corpus — and the
  * per-term frequency table it derives is a few-row broadcast against
  * the pruned postings. Compaction of many appended files is
  * [[graft.sinks.DirCompaction]] (per bucket directory, layout
  * preserved).
  *
  * Score parity: ONE scoring path — search() is searchAll() with a
  * single-row query frame, and searchAll reproduces
  * [[TextOps.bm25Topk]]'s formula with contributions folded in query
  * term order (not row order), so index-served results equal the
  * from-scratch batch query bit-for-bit — `docs_bm25_indexed` shares
  * `docs_bm25_topk`'s DuckDB oracle.
  *
  * Lifecycle ([[Tombstones.Lifecycle]]): `delete` is the in-engine
  * mirror of the reference's ES delete path
  * (elasticsearch_integration.py:453-566, without its 10k scan cap).
  * Every serving read — [[searchAll]]/[[search]] scoring AND the
  * corpus statistics n/avgdl/df, [[phraseSearch]] — subtracts the
  * tombstones, so a deleted document's results and its influence on
  * every OTHER document's score vanish as if the store had been
  * rebuilt on the post-delete corpus (`docs_bm25_indexed_deleted`
  * gates exactly that, bit-for-bit). `compact` folds postings (bucket
  * layout preserved) and doclen; `docs_bm25_compacted` shares the
  * deleted oracle.
  */
object TermIndex extends Tombstones.Lifecycle {

  protected val idCol = "doc_id"
  protected val legs = Seq("postings" -> Seq("t_b"), "doclen" -> Nil)

  /** doclen rows — a footer-stats count, no data pages. */
  protected def rawRows(spark: SparkSession, dir: String): Long =
    spark.read.parquet(s"$dir/doclen").count()

  /** Postings partition count. crc32 matches Spark's `crc32` function
    * (java.util.zip.CRC32), so the driver can compute a literal bucket
    * for each query term — the precondition for partition pruning.
    */
  val NBuckets = 16

  private[operators] def bucketOf(term: String): Int = {
    val c = new java.util.zip.CRC32
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (c.getValue % NBuckets).toInt
  }

  /** Index a batch of (doc_id, text). Already-indexed doc_ids are
    * skipped (anti-join on the doclen membership list), so re-running a
    * failed or duplicated batch cannot double-count a document. Rows
    * are stamped write-generation 0 — insert-only stores never touch
    * the [[GenMeta]] counter; [[upsert]] is the overwrite path.
    */
  def update(spark: SparkSession, dir: String, docs: DataFrame): Unit = {
    val doclenPath = s"$dir/doclen"
    val fresh =
      if (exists(spark, doclenPath))
        docs.join(readLeg(spark, doclenPath).select("doc_id"),
          Seq("doc_id"), "left_anti")
      else docs
    writeRows(spark, dir, fresh, gen = 0L)
  }

  /** UPSERT a batch of (doc_id, text) — last-writer-wins by id, the
    * in-engine mirror of the reference ES sink's `{"index": {_id}}`
    * overwrite actions (elasticsearch_integration.py:403-409) and of
    * `INSERT OR REPLACE` (direct_links.py:169-172): present ids are
    * re-indexed with the new text, absent (even previously-DELETED)
    * ids insert — all WITHOUT a store rewrite and without a compact
    * between delete and re-add. The write is [[writeRows]] at a fresh
    * generation, run inside [[Tombstones.Lifecycle]]'s reader-atomic
    * UPSERT ORDER (TombstoneHygieneSpec interleaves a reader between
    * every pair of writes and pins it: df/n/avgdl all come from the
    * same snapshot). `docs_bm25_reindexed` gates serving bit-identical
    * to a from-scratch build on the post-upsert corpus; the rows
    * physically fold at [[compact]] exactly as deletes do.
    */
  def upsert(spark: SparkSession, dir: String, docs: DataFrame,
      autoFoldAt: Double = AutoFoldAt): Unit =
    upserting(spark, dir, docs, autoFoldAt)(writeRows(spark, dir, docs, _))

  /** Tokenize `docs` once and append postings + doclen at `gen` — the
    * shared write tail of [[update]] (gen 0, membership-filtered) and
    * [[upsert]] (a fresh generation, overwrite-intent).
    */
  private[operators] def writeRows(spark: SparkSession, dir: String,
      docs: DataFrame, gen: Long): Unit = {
    val fresh = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .localCheckpoint(true) // tokenize once; stable across both writes
    fresh
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy("doc_id", "term")
      // POSITIONAL postings (what Lucene stores for phrase queries):
      // tf rides along for the BM25 path, sorted 0-based positions for
      // the phrase path
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("gen", lit(gen))
      .withColumn("t_b", pmod(crc32(col("term")), lit(NBuckets.toLong)).cast("int"))
      .write.mode("append").partitionBy("t_b").parquet(s"$dir/postings")
    // dl as DOUBLE at write time: bm25Topk averages doubles, and a
    // long-summing avg differs in the last bits — parity needs the
    // same input type on both paths. doclen lands LAST — it is the
    // membership list, so a torn gen-0 update (postings committed,
    // doclen not) re-runs cleanly THROUGH update(); in the torn
    // window the doc is not a corpus member anywhere that carries
    // statistics: absent from n/avgdl (doclen-derived), from df
    // (semi-joined through doclen) and from scoring (contrib
    // inner-joins doclen). phraseSearch MAY surface a torn doc's
    // positions until the re-run lands — positions carry no corpus
    // statistics, and the reference's per-doc bulk indexing exposes
    // the same not-yet-everywhere state mid-batch. Upserts have no
    // such window at all: their writes sit above the commit watermark
    // until the generation commits.
    fresh
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
      .withColumn("gen", lit(gen))
      .write.mode("append").parquet(s"$dir/doclen")
  }

  /** DESCRIBE the store — the [[graft.sinks.ParquetIndex.describe]]
    * observability discipline for the term index: one row of the
    * numbers an operator alarms on (postings volume, bucket fill,
    * membership vs LIVE counts — their gap is the pending tombstone
    * debt [[compact]] will fold, `avgdl` is the serving-side BM25
    * length norm actually in effect). Reads the narrow columns only.
    */
  def describe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val posts = readLeg(spark, s"$dir/postings")
    val doclen = readLeg(spark, s"$dir/doclen")
    val liveLen = Tombstones.minus(spark, dir, doclen, "doc_id",
      genCol = Some("gen"))
    val pr = posts.agg(count(lit(1)), countDistinct(col("t_b")),
      countDistinct(col("term"))).head()
    val dr = doclen.agg(count(lit(1))).head()
    val lr = liveLen.agg(count(lit(1)), avg("dl")).head()
    Seq((pr.getLong(0), pr.getLong(1), NBuckets.toLong, pr.getLong(2),
      dr.getLong(0), lr.getLong(0), Tombstones.pendingRows(spark, dir),
      if (lr.isNullAt(1)) 0.0 else lr.getDouble(1)))
      .toDF("postings_rows", "buckets_occupied", "buckets_total",
        "distinct_terms", "indexed_docs", "live_docs", "tombstones",
        "live_avgdl")
  }

  /** BM25 top-k served FROM the store: reads only the query terms'
    * bucket partitions, derives (n, avgdl, per-term df) as a one-row
    * broadcast, and scores with [[TextOps.bm25Topk]]'s exact formula.
    *
    * ONE scoring path: this is [[searchAll]] with a single-row query
    * frame (there is no separate per-term pivot to keep bit-identical —
    * a doc missing a term contributes exactly +0.0 in the old pivot
    * form and is simply absent from the sorted fold here, the same
    * double sum).
    */
  def search(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "search: need at least one term")
    import spark.implicits._
    val q = Seq((0L, terms)).toDF("q_id", "terms")
    searchAll(spark, q, dir, k)
      .orderBy("rank")
      .select("doc_id", "score")
  }

  /** Batch BM25 serving: answer a whole frame of queries
    * (`q_id`, `terms: array<string>`) in ONE plan — the scale path when
    * queries arrive in volume (N plans of [[search]] pay N store scans;
    * this pays one, pruned to the union of all queried terms' buckets).
    * Per-query results are BIT-IDENTICAL to [[search]]: contributions
    * fold in ascending term order via a sorted `aggregate()` (the same
    * order `search` sums its fixed columns; a term the doc lacks
    * contributes exactly +0.0 there, so skipping it here is the same
    * sum), and df/n/avgdl are the same store-derived values.
    * Output: (q_id, doc_id, score, rank), rank 1-based per query.
    */
  def searchAll(spark: SparkSession, queries: DataFrame,
      dir: String, k: Int = 20,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // the union of queried terms is small (it's a query workload, not
    // the corpus) — collecting it makes the bucket filter literal,
    // which is what prunes store partitions (AnnIndex collects its
    // centroids for the same reason)
    val terms = queries
      .select(explode(col("terms")).as("term")).distinct()
      .collect().map(_.getString(0)).toIndexedSeq
    require(terms.nonEmpty, "searchAll: no terms in the query frame")
    val buckets = terms.map(bucketOf).distinct
    // max-collapse duplicate postings from a torn update (same tf),
    // as search()'s pivot and phraseSearch's distinct do — without it
    // a duplicated posting would double a doc's contribution sum
    val scan0 = readLeg(spark, s"$dir/postings")
      .filter(col("t_b").isin(buckets: _*) && col("term").isin(terms: _*))
    // serving observability (the AnnIndex.observed symmetry): postings
    // rows the probe actually read, buckets probed vs the store's
    // bucket space — what a text-retrieval tier alarms on when a query
    // silently stops pruning. CollectMetrics references no extra
    // columns, so bucket partition pruning is unchanged.
    val scan = obs.fold(scan0)(o => scan0.observe(o,
      count(lit(1)).as("postings_rows_read"),
      max(lit(buckets.length)).as("buckets_probed"),
      max(lit(NBuckets)).as("buckets_total")))
    // tombstone subtraction BEFORE df/doclen derivation: a deleted doc
    // must stop contributing to document frequencies, n and avgdl —
    // not just drop out of the hit list — or served scores would drift
    // from a rebuild on the post-delete corpus. The subtraction sits
    // ABOVE the observe node: postings_rows_read reports what the scan
    // actually read, tombstoned or not.
    val pruned = Tombstones.minus(spark, dir, scan, "doc_id",
      genCol = Some("gen"))
      .groupBy("term", "doc_id").agg(max(col("tf")).as("tf"))
    val doclen = Tombstones.minus(spark, dir,
        readLeg(spark, s"$dir/doclen"), "doc_id",
        genCol = Some("gen"))
      .select("doc_id", "dl")
    val corpus = doclen.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl"))
    // per-term document frequency over the pruned postings (distinct
    // doc_ids — duplicate postings from a torn update count once),
    // restricted to docs WITH a live doclen row: a torn gen-0 update
    // (crash between the postings and doclen appends) leaves postings
    // whose doc is not a corpus member — n/avgdl never counted it and
    // contrib's inner doclen join never scores it — so it must not
    // count in df either. The semi-join reuses the narrow live-doclen
    // ids the plan already derives; pruned is query-term-sized, so
    // AQE broadcasts it against the id column.
    val dfByTerm = pruned
      .join(doclen.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy("term")
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))

    val qTerms = queries
      .select(col("q_id"), posexplode(col("terms")).as(Seq("t_i", "term")))
    val contrib = qTerms
      .join(pruned, "term") // only docs containing the term contribute
      .join(doclen, "doc_id")
      .join(broadcast(dfByTerm), "term")
      .crossJoin(broadcast(corpus))
      .withColumn("c",
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf").cast("double") * lit(TextOps.bm25K1 + 1)) /
          (col("tf").cast("double") +
            lit(TextOps.bm25K1) * (lit(1 - TextOps.bm25B) +
              lit(TextOps.bm25B) * col("dl") / col("avgdl"))))
    // deterministic fold: sort each doc's contributions by the query's
    // term position, then left-fold — the float addition order search()
    // uses, independent of join/row order
    val scored = contrib
      .groupBy("q_id", "doc_id")
      .agg(aggregate(
        sort_array(collect_list(struct(col("t_i"), col("c")))),
        lit(0.0),
        (acc, x) => acc + x.getField("c")).as("s"))
      .withColumn("score", round(col("s"), 4))
      .filter(col("score") > 0)
    // per-query top-k on the NATIVE GroupTopK operator (map-side
    // bounded heaps — no per-query window shuffle), as AnnIndex's
    // batch serving does
    graft.plans.GroupTopK.topK(
      scored.select("q_id", "doc_id", "score"),
      groupCols = Seq("q_id"),
      orderKeys = Seq(("score", true), ("doc_id", false)),
      k = k)
      .select(col("q_id"), col("doc_id"), col("score"),
        col("rk").as("rank"))
  }

  /** Exact N-token phrase occurrences served FROM the store's
    * positional postings (the Lucene positional-index query shape,
    * arbitrary phrase length): reads ONLY the phrase terms' bucket
    * partitions, explodes their (deduplicated — torn-update-safe)
    * position lists with term i's positions shifted by −i, and counts
    * full adjacency chains as an equi-join chain on (doc_id,
    * anchor-position) — n−1 co-keyed joins over the pruned postings,
    * never the corpus. OVERLAP semantics identical to
    * [[TextOps.phraseSearch]] ("w w w" = 2 matches of "w w").
    * Repeated tokens are fine: each slot reads the same pruned term
    * frame at its own shift.
    */
  def phraseSearch(spark: SparkSession, dir: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.length >= 2,
      "phraseSearch: a phrase needs at least 2 tokens")
    val buckets = terms.map(bucketOf).distinct
    val posts = Tombstones.minus(spark, dir,
      readLeg(spark, s"$dir/postings")
        .filter(col("t_b").isin(buckets: _*)), "doc_id",
      genCol = Some("gen"))
    def anchored(term: String, i: Int) = posts
      .filter(col("term") === term)
      .select(col("doc_id"), explode(col("positions")).as("pos"))
      .distinct() // duplicate postings from a torn update count once
      .select(col("doc_id"), (col("pos") - i).as("p"))
    terms.zipWithIndex.map { case (t, i) => anchored(t, i) }
      .reduce((a, b) => a.join(b, Seq("doc_id", "p")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_occur"))
      .orderBy(col("n_occur").desc, col("doc_id"))
      .limit(k)
  }

  /** The original 2-token form, kept as the convenience overload. */
  def phraseSearch(spark: SparkSession, dir: String, first: String,
      second: String, k: Int = 20): DataFrame =
    phraseSearch(spark, dir, Seq(first, second), k)
}
