package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data text pipeline over the `documents` table: exact dedup,
  * token/quality/language statistics, fingerprinting, and near-duplicate
  * detection (MinHash-LSH, SimHash, blocked n-gram Jaccard).
  *
  * Everything is built from codegen'd higher-order functions
  * (`transform`/`filter`/`aggregate`) — no UDFs — and every hash is
  * sha2/sha256 so the DuckDB oracle computes bit-identical values.
  *
  * Scale notes (100 TB of text):
  *  - exact dedup is a hash-groupBy: map-side combinable, one shuffle on
  *    the 256-bit digest (effectively unskewed keys);
  *  - MinHash-LSH is banded: candidate pairs only ever meet through an
  *    equi-join on a band key, never an all-pairs product. Band keys are
  *    uniform hashes → no join skew; signature computation is
  *    embarrassingly parallel per row;
  *  - the Jaccard verifier re-joins shingle sets by doc id (here they are
  *    simply carried — at real scale you'd join back to avoid shuffling
  *    wide arrays through the band join);
  *  - blocked n-gram Jaccard bounds the quadratic term to one block
  *    (`source`), the standard all-pairs-within-partition compromise.
  */
object TextOps {

  // Shared expression fragments (Spark SQL / DuckDB SQL mirrors).
  private val toks = "split(text, ' ')"
  private val dToks = s"array_distinct($toks)"

  /** 60-bit sha256-prefix token fingerprint SET (15 hex chars → always
    * a non-negative bigint): the one set-similarity currency shared by
    * ngramJaccard, the SimHash vote, and both containment forms —
    * long-array set ops cost a fraction of string ops, collisions
    * ~1e-7 at this vocabulary, and widening the fingerprint is a
    * single-site change (plus [[duckFp60]], its oracle mirror).
    */
  private val fp60Scalar =
    "cast(conv(substring(sha2(v, 256), 1, 15), 16, 10) AS bigint)"

  private val fp60 =
    s"array_distinct(transform($toks, v -> $fp60Scalar))"

  private def duckFp60(toksSql: String): String =
    s"""list_distinct(list_transform($toksSql, v ->
       |      CAST('0x' || substr(sha256(v), 1, 15) AS BIGINT)))""".stripMargin
  /** Distinct word-3-gram shingles. Docs with fewer than 3 tokens get an
    * empty set (Spark's `sequence(1, 0)` DESCENDS to `[1, 0]` and index 0
    * then blows up `slice`; DuckDB's `generate_series(1, 0)` is empty — the
    * CASE guard makes both engines agree on `[]`).
    */
  private val occShingles =
    s"""CASE WHEN size($toks) >= 3 THEN
       |  transform(sequence(1, size($toks) - 2),
       |    i -> array_join(slice($toks, i, 3), ' '))
       |ELSE cast(array() AS array<string>) END""".stripMargin
  private[graft] val shingles = s"array_distinct($occShingles)"
  private val duckToks = "string_split(text, ' ')"
  private val duckShingles =
    s"""list_distinct(list_transform(generate_series(1, len($duckToks) - 2),
       |  i -> array_to_string($duckToks[i:i+2], ' ')))""".stripMargin

  // -------------------------------------------------------------------- //
  // Exact deduplication: sha2 over a normalized key, keep min doc_id.    //
  // Normalization = first-8-token prefix (simulates boilerplate dups in  //
  // the synthetic corpus, which has no full-text duplicates).            //
  // -------------------------------------------------------------------- //

  /** THE text-identity key — one definition shared by dedupExact, the
    * curation pipeline's stage 1, the contamination matrix, and the
    * data card, so the cross-query identity contract cannot drift.
    */
  private def textIdHash: Column =
    sha2(expr(s"array_join(slice($toks, 1, 8), ' ')"), 256)
  private val duckTextIdHash: String =
    s"sha256(array_to_string($duckToks[1:8], ' '))"

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .withColumn("text_hash", textIdHash)
      .groupBy("text_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("text_hash")

  val dedupExactSql: String =
    s"""SELECT $duckTextIdHash AS text_hash,
       |  min(doc_id) AS keep_id, count(*) AS dup_count
       |FROM documents GROUP BY text_hash ORDER BY text_hash""".stripMargin

  // -------------------------------------------------------------------- //
  // Token statistics (token counting for a BPE-ish budget estimate).     //
  // -------------------------------------------------------------------- //

  def tokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        expr(s"size($toks)").as("n_tokens"),
        length(col("text")).as("n_chars_calc"),
        expr(s"aggregate(transform($toks, t -> length(t)), 0, (a, x) -> a + x)")
          .as("token_chars"))
      .withColumn("avg_token_len",
        round(col("token_chars").cast("double") / col("n_tokens"), 4))
      .orderBy("doc_id")

  val tokenStatsSql: String =
    s"""SELECT doc_id,
       |  len($duckToks) AS n_tokens,
       |  length(text) AS n_chars_calc,
       |  CAST(list_sum(list_transform($duckToks, t -> length(t))) AS INT) AS token_chars,
       |  round(CAST(list_sum(list_transform($duckToks, t -> length(t))) AS DOUBLE)
       |        / len($duckToks), 4) AS avg_token_len
       |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------- //
  // BPE-ish token counting: the pre-tokenizer regex split (letter runs / //
  // digit runs / punctuation runs) next to the whitespace count — the    //
  // standard quick budget estimate when the real tokenizer is offline.   //
  // The synthetic corpus is pure lowercase words, so the query augments  //
  // each doc with a digits+punctuation tail derived from its id; the     //
  // regex then genuinely splits where whitespace doesn't (n_bpe > n_ws), //
  // keeping the oracle discriminating.                                   //
  // -------------------------------------------------------------------- //

  private val bpeRe = "[a-z]+|[0-9]+|[^a-z0-9 ]+"

  def tokenBpe(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .withColumn("aug",
        concat(col("text"), lit(" x"), col("doc_id").cast("string"),
          lit(".7!")))
      .select(col("doc_id"),
        expr(s"CAST(regexp_count(aug, '$bpeRe') AS INT)").as("n_bpe"),
        expr("size(split(aug, ' '))").as("n_ws"))
      .orderBy("doc_id")

  val tokenBpeSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text || ' x' || doc_id || '.7!',
       |    '$bpeRe')) AS INT) AS n_bpe,
       |  CAST(len(string_split(text || ' x' || doc_id || '.7!', ' '))
       |    AS INT) AS n_ws
       |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------- //
  // Quality scoring: stopword ratio + length saturation.                 //
  // -------------------------------------------------------------------- //

  private val stopList = "'the','a','of','to','and','in','is','on','for','with'"

  /** The single rounded quality formula — shared verbatim by the
    * standalone query AND the curation pipeline's stage 3, so the two
    * can't drift. Inputs are column names for stopword-hit and token
    * counts.
    */
  private def qualityCol(nStop: Column, nTokens: Column): Column =
    round(lit(0.5) * (nStop.cast("double") / nTokens) +
      lit(0.5) * least(lit(1.0), nTokens.cast("double") / 100.0), 4)

  /** The unrounded repetition flag — shared by repetitionFilter and the
    * curation pipeline's stage 4.
    */
  private def repetitiousCol(d2: Column, tw: Column): Column =
    lit(1.0) - d2.cast("double") / (tw.cast("double") - 1) > 0.5

  def qualityScore(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        expr(s"size($toks)").as("n_tokens"),
        expr(s"size(filter($toks, t -> t IN ($stopList)))").as("n_stop"))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("n_tokens"), 4))
      .withColumn("quality", qualityCol(col("n_stop"), col("n_tokens")))
      .orderBy("doc_id")

  val qualityScoreSql: String =
    s"""SELECT doc_id, n_tokens, n_stop,
       |  round(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stop_ratio,
       |  round(0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
       |      + 0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0), 4) AS quality
       |FROM (SELECT doc_id, len($duckToks) AS n_tokens,
       |        len(list_filter($duckToks, t -> t IN ($stopList))) AS n_stop
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Quality-vs-duplication CALIBRATION — the corpus diagnostic behind
    * "dedup before or after quality filtering?": documents bucketed
    * into quality deciles, each decile's exact-duplicate rate reported
    * (C4/RefinedWeb-style analyses correlate the two to pick pipeline
    * order). Scale shape: decile BOUNDARIES are one exact interpolated
    * percentile aggregation over the 4dp-rounded score (≤10⁴ distinct
    * values of bounded state — the [[qualityQuantileFilter]]
    * discipline), broadcast back for a map-side bucket assignment —
    * NEVER a global `ntile` sort, which would single-partition the
    * corpus. The dup flag joins the [[textIdHash]] group sizes (one
    * digest exchange), and the rate divides in exact integer 4dp units
    * with half-up division (the [[sourceNearDupOverlap]] knife-edge
    * fix, applied from birth here). Ties at a boundary go to the lower
    * decile by the strict `>` comparison — deterministic either side.
    */
  def qualityDupCalibration(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val scored = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr(s"size($toks)").as("n_tokens"),
        expr(s"size(filter($toks, t -> t IN ($stopList)))").as("n_stop"),
        textIdHash.as("text_hash"))
      .withColumn("quality", qualityCol(col("n_stop"), col("n_tokens")))
      .select("doc_id", "quality", "text_hash")
      .localCheckpoint(true)
    val flagged = scored
      .join(scored.groupBy("text_hash").agg(count(lit(1)).as("gsz")),
        "text_hash")
      .select(col("quality"),
        when(col("gsz") > 1, 1L).otherwise(0L).as("is_dup"))
    val cuts = flagged.agg(expr(
      "transform(percentile(quality, array(0.1D, 0.2D, 0.3D, 0.4D, " +
        "0.5D, 0.6D, 0.7D, 0.8D, 0.9D)), x -> round(x, 4))").as("cs"))
    flagged.crossJoin(broadcast(cuts))
      .select(expr("int(1 + size(filter(cs, c -> quality > c)))")
        .as("decile"), col("is_dup"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dups"))
      .select(col("decile"), col("n_docs"), col("n_dups"),
        (expr("(2 * 10000 * n_dups + n_docs) div (2 * n_docs)")
          .cast("double") / 10000.0).as("dup_rate"))
      .orderBy("decile")
  }

  /** ANNEAL-PHASE mix report — the decay/midtraining recipe public
    * pretraining reports converge on (anneal the final phase on a
    * high-quality slice): the anneal set is everything above the
    * corpus-wide quality P90 (the same ONE bounded-state exact
    * percentile broadcast the calibration row uses — never a global
    * sort), and the report says per source how many docs/tokens the
    * final-phase sampler may draw there versus the main phase, with
    * the token fraction in exact integer 4dp half-up units (the
    * dup_rate discipline — float division per group would be the only
    * nondeterminism in an otherwise integer plan).
    */
  def annealMix(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        expr(s"size($toks)").cast("long").as("nt"),
        expr(s"size(filter($toks, t -> t IN ($stopList)))").as("n_stop"))
      .withColumn("quality", qualityCol(col("n_stop"), col("nt")))
      .localCheckpoint(true)
    val cut = scored
      .agg(round(expr("percentile(quality, 0.9D)"), 4).as("c"))
    scored.crossJoin(broadcast(cut))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").as("n_tokens"),
        sum(when(col("quality") > col("c"), 1L).otherwise(0L))
          .as("anneal_docs"),
        sum(when(col("quality") > col("c"), col("nt")).otherwise(0L))
          .as("anneal_tokens"),
        max(col("c")).as("q90_cut"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("anneal_docs"), col("anneal_tokens"),
        (expr("(2 * 10000 * anneal_tokens + n_tokens) div " +
          "(2 * n_tokens)").cast("double") / 10000.0).as("anneal_frac"),
        col("q90_cut"))
      .orderBy("source")
  }

  val annealMixSql: String =
    s"""WITH sc AS (
       |  SELECT source,
       |    CAST(len($duckToks) AS BIGINT) AS nt,
       |    round(0.5 * (CAST(len(list_filter($duckToks,
       |          t -> t IN ($stopList))) AS DOUBLE) / len($duckToks))
       |        + 0.5 * least(1.0, CAST(len($duckToks) AS DOUBLE) / 100.0),
       |        4) AS quality
       |  FROM documents),
       |cut AS (
       |  SELECT round(quantile_cont(quality, 0.9), 4) AS c FROM sc)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN quality > c THEN 1 ELSE 0 END) AS BIGINT)
       |    AS anneal_docs,
       |  CAST(sum(CASE WHEN quality > c THEN nt ELSE 0 END) AS BIGINT)
       |    AS anneal_tokens,
       |  CAST((2 * 10000 * sum(CASE WHEN quality > c THEN nt ELSE 0 END)
       |      + sum(nt)) // (2 * sum(nt)) AS DOUBLE) / 10000.0
       |    AS anneal_frac,
       |  max(c) AS q90_cut
       |FROM sc, cut GROUP BY source ORDER BY source""".stripMargin

  /** Length-bucketed batching report — the PADDING half of the
    * packing-vs-padding loader trade ([[packSegments]] is the packing
    * half): sequences grouped into power-of-two length buckets
    * (16..512, the dynamic-batching shape inference and non-causal
    * training loaders use), each doc padded to its bucket top and
    * truncated at 512. Per bucket: docs, effective tokens, padded
    * slots, waste, the waste fraction in exact integer 4dp half-up
    * units (the anneal_frac discipline), batch count at 8 docs/batch,
    * and truncated-token volume. The bucket ladder is pure integer
    * CASE comparisons — no float log2 to drift between engines — and
    * the whole report is ONE map pass + a 6-key map-side-combinable
    * aggregate: at 100 TB the corpus pass is embarrassingly parallel
    * and the report never moves more than 6 rows.
    */
  def lengthBatching(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "documents")
      .select(expr(s"size($toks)").cast("long").as("nt"))
      .withColumn("bucket",
        when(col("nt") <= 16, 16L).when(col("nt") <= 32, 32L)
          .when(col("nt") <= 64, 64L).when(col("nt") <= 128, 128L)
          .when(col("nt") <= 256, 256L).otherwise(512L))
      .withColumn("eff", least(col("nt"), col("bucket")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("eff").as("n_tokens"),
        sum(greatest(col("nt") - 512L, lit(0L))).as("trunc_tokens"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        (col("n_docs") * col("bucket")).as("padded_slots"),
        (col("n_docs") * col("bucket") - col("n_tokens")).as("pad_waste"),
        (expr("(2 * 10000 * (n_docs * bucket - n_tokens) + " +
          "n_docs * bucket) div (2 * n_docs * bucket)")
          .cast("double") / 10000.0).as("pad_frac"),
        expr("(n_docs + 7) div 8").as("n_batches"),
        col("trunc_tokens"))
      .orderBy("bucket")
  }

  val lengthBatchingSql: String =
    s"""WITH lens AS (
       |  SELECT CAST(len($duckToks) AS BIGINT) AS nt FROM documents),
       |bucketed AS (
       |  SELECT nt,
       |    CAST(CASE WHEN nt <= 16 THEN 16 WHEN nt <= 32 THEN 32
       |         WHEN nt <= 64 THEN 64 WHEN nt <= 128 THEN 128
       |         WHEN nt <= 256 THEN 256 ELSE 512 END AS BIGINT) AS bucket
       |  FROM lens)
       |SELECT bucket, count(*) AS n_docs,
       |  CAST(sum(LEAST(nt, bucket)) AS BIGINT) AS n_tokens,
       |  CAST(count(*) * bucket AS BIGINT) AS padded_slots,
       |  CAST(count(*) * bucket - sum(LEAST(nt, bucket)) AS BIGINT)
       |    AS pad_waste,
       |  CAST((2 * 10000 * (count(*) * bucket - sum(LEAST(nt, bucket)))
       |      + count(*) * bucket) // (2 * count(*) * bucket) AS DOUBLE)
       |    / 10000.0 AS pad_frac,
       |  CAST((count(*) + 7) // 8 AS BIGINT) AS n_batches,
       |  CAST(sum(CASE WHEN nt > 512 THEN nt - 512 ELSE 0 END) AS BIGINT)
       |    AS trunc_tokens
       |FROM bucketed GROUP BY bucket ORDER BY bucket""".stripMargin

  val qualityDupCalibrationSql: String =
    s"""WITH sc AS (
       |  SELECT doc_id,
       |    round(0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
       |        + 0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0), 4)
       |      AS quality,
       |    text_hash
       |  FROM (SELECT doc_id, len($duckToks) AS n_tokens,
       |          len(list_filter($duckToks, t -> t IN ($stopList)))
       |            AS n_stop,
       |          $duckTextIdHash AS text_hash
       |        FROM documents)),
       |g AS (SELECT text_hash, count(*) AS gsz FROM sc GROUP BY 1),
       |f AS (
       |  SELECT sc.quality,
       |    CASE WHEN g.gsz > 1 THEN 1 ELSE 0 END AS is_dup
       |  FROM sc JOIN g USING (text_hash)),
       |cuts AS (
       |  SELECT list_transform(quantile_cont(quality,
       |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
       |    x -> round(x, 4)) AS cs
       |  FROM f),
       |a AS (
       |  SELECT CAST(1 + len(list_filter(cuts.cs, c -> f.quality > c))
       |      AS INT) AS decile,
       |    count(*) AS n_docs, CAST(sum(f.is_dup) AS BIGINT) AS n_dups
       |  FROM f, cuts GROUP BY 1)
       |SELECT decile, n_docs, n_dups,
       |  CAST((2 * 10000 * n_dups + n_docs) // (2 * n_docs) AS DOUBLE)
       |    / 10000.0 AS dup_rate
       |FROM a ORDER BY decile""".stripMargin

  /** Per-source quantile quality gate — the curation form a threshold
    * constant can't give: "keep each source's best 70%" adapts to every
    * source's own score distribution (a fixed cutoff keeps all of a
    * clean source and none of a noisy one). Thresholds are ONE exact
    * interpolated quantile per source (`percentile` ≙ `quantile_cont`,
    * the [[graft.operators.EventsOps.valueQuantiles]] parity pair),
    * broadcast back against the scored stream. Cost shape: one hash
    * exchange of the slim (doc_id, source, quality) projection for the
    * quantile — and because scores are rounded to 4 decimals, the
    * exact-percentile buffer holds ≤ 10⁴ distinct values per source,
    * bounded at any corpus size — then a map-side broadcast join. The
    * slim projection is localCheckpoint'ed before fanning into its two
    * plan legs (the quantile aggregation and the probe side of the
    * broadcast join), so the full-width documents parquet genuinely IS
    * scanned once — without the checkpoint, two un-shared legs each
    * re-scan it.
    */
  def qualityQuantileFilter(spark: SparkSession,
      sfDir: String): DataFrame = {
    val scored = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        expr(s"size($toks)").as("n_tokens"),
        expr(s"size(filter($toks, t -> t IN ($stopList)))").as("n_stop"))
      .withColumn("quality", qualityCol(col("n_stop"), col("n_tokens")))
      .select("doc_id", "source", "quality")
      .localCheckpoint(true)
    val thresholds = scored.groupBy("source")
      .agg(round(expr("percentile(quality, 0.3)"), 4).as("q30"))
    scored.join(broadcast(thresholds), "source")
      .filter(col("quality") >= col("q30"))
      .select("source", "doc_id", "quality", "q30")
      .orderBy("source", "doc_id")
  }

  val qualityQuantileFilterSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    round(0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
       |      + 0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0), 4)
       |      AS quality
       |  FROM (SELECT doc_id, source, len($duckToks) AS n_tokens,
       |          len(list_filter($duckToks, t -> t IN ($stopList)))
       |            AS n_stop
       |        FROM documents)),
       |t AS (
       |  SELECT source, round(quantile_cont(quality, 0.3), 4) AS q30
       |  FROM scored GROUP BY source)
       |SELECT source, doc_id, quality, q30
       |FROM scored JOIN t USING (source)
       |WHERE quality >= q30
       |ORDER BY source, doc_id""".stripMargin

  // -------------------------------------------------------------------- //
  // Language ID: marker-word hit counts + argmax (n-gram-free heuristic; //
  // deterministic and oracle-able, unlike a model-based LID).            //
  // -------------------------------------------------------------------- //

  private val enM = "'the','and','of','is','in','to','a'"
  private val frM = "'le','la','et','les','des','une'"
  private val deM = "'der','die','und','das','ist','nicht'"

  def langId(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        expr(s"size(filter($toks, t -> t IN ($enM)))").as("en_hits"),
        expr(s"size(filter($toks, t -> t IN ($frM)))").as("fr_hits"),
        expr(s"size(filter($toks, t -> t IN ($deM)))").as("de_hits"))
      .withColumn("pred",
        when(col("en_hits") >= col("fr_hits") &&
          col("en_hits") >= col("de_hits"), lit("en"))
          .when(col("fr_hits") >= col("de_hits"), lit("fr"))
          .otherwise(lit("de")))
      .orderBy("doc_id")

  val langIdSql: String =
    s"""SELECT doc_id, en_hits, fr_hits, de_hits,
       |  CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
       |       WHEN fr_hits >= de_hits THEN 'fr'
       |       ELSE 'de' END AS pred
       |FROM (SELECT doc_id,
       |        len(list_filter($duckToks, t -> t IN ($enM))) AS en_hits,
       |        len(list_filter($duckToks, t -> t IN ($frM))) AS fr_hits,
       |        len(list_filter($duckToks, t -> t IN ($deM))) AS de_hits
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------- //
  // Document fingerprint: digest of the sorted distinct shingle set      //
  // (content-defined identity that survives token reordering).           //
  // -------------------------------------------------------------------- //

  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        sha2(expr(s"array_join(array_sort($shingles), '|')"), 256)
          .as("fingerprint"))
      .orderBy("doc_id")

  val fingerprintSql: String =
    s"""SELECT doc_id,
       |  sha256(array_to_string(list_sort($duckShingles), '|')) AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------- //
  // Karp-Rabin rolling hash over the character stream — the classic     //
  // content fingerprint (complements the shingle-set digest above).     //
  // Integer fold, mod 2^31-1 each step so both engines stay exact.      //
  // -------------------------------------------------------------------- //

  def rollingHash(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr(
        """aggregate(
          |  transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1))),
          |  cast(0 AS bigint), (h, c) -> (h * 31 + c) % 2147483647)""".stripMargin)
        .as("rhash"))
      .orderBy("doc_id")

  val rollingHashSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, length(text)),
      |                     i -> CAST(ord(substr(text, i, 1)) AS BIGINT))),
      |    (h, c) -> (h * 31 + c) % 2147483647) AS rhash
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------- //
  // MinHash-LSH near-duplicate pairs: 12 seeded sha2 min-hashes over     //
  // 3-gram shingles, 4 bands × 3 rows, candidate pairs via band-key      //
  // equi-join, verified with exact Jaccard ≥ 0.3. Min-hash values are    //
  // fixed-width hex prefixes compared lexicographically — a valid        //
  // uniform hash family that both engines order identically.            //
  // -------------------------------------------------------------------- //

  /** Affine MinHash family constants, mirrored verbatim in
    * [[minhashCtesFrom]]'s DuckDB CTE and [[graft.streaming.TextStream]]:
    * hᵢ(v) = (Aᵢ·base(v) + Bᵢ) mod P with base(v) = first 7 hex chars of
    * sha256(v) as an integer. P = 2³¹−1 (prime); Aᵢ odd primes ≪ 2³¹.
    */
  private[graft] val MinhashP = 2147483647L
  private[graft] val MinhashA: IndexedSeq[Long] = Vector(
    1000003L, 1000033L, 1000037L, 1000039L, 1000081L, 1000099L,
    1000117L, 1000121L, 1000133L, 1000151L, 1000159L, 1000171L)
  private[graft] val MinhashB: IndexedSeq[Long] = Vector(
    12289L, 24593L, 49157L, 98317L, 196613L, 393241L,
    786433L, 1572869L, 3145739L, 6291469L, 12582917L, 25165843L)

  /** Shared MinHash-LSH pair pipeline. Returns the CACHED shingle frame
    * (doc_id, sh) alongside the verified pair frame so callers that
    * materialize internally (`neardupClusters`) can unpersist it; the
    * cache is hit three times per evaluation (signature leg + both sides
    * of the Jaccard verify).
    *
    * The expensive step — 12 seeded sha256s — runs once per DISTINCT
    * shingle value, not once per (doc, shingle) occurrence: shingle
    * vocabulary ≪ occurrences in any natural-language corpus, so the
    * `distinct → hash → equi-join back on v` shape cuts sha2 work by the
    * corpus repetition factor at the cost of one hash-partitioned join
    * (both sides narrow: the value and 12 12-char prefixes).
    */
  private def minhashPairs(
      spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    minhashPairsOn(Tables(spark, sfDir, "documents"))

  /** Same pipeline over an arbitrary corpus frame (must carry doc_id and
    * text) — lets composed flows (the curation pipeline) run near-dup
    * detection over an already-filtered survivor set.
    */
  private def minhashPairsOn(docs: DataFrame): (DataFrame, DataFrame) = {
    val nSeeds = 12
    val sh = docs
      .select(col("doc_id"), expr(shingles).as("sh"))
      .cache()
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("v"))
    // ONE sha256 per shingle occurrence (28-bit hex prefix → BIGINT base
    // fingerprint), then 12 affine transforms (aᵢ·base + bᵢ) mod 2³¹−1 —
    // a universal hash family whose integer arithmetic both engines
    // evaluate identically with no 64-bit overflow (aᵢ < 2³¹, base < 2²⁸
    // ⇒ product < 2⁵⁹). The earlier distinct-vocabulary join existed to
    // amortize 12 sha256s per shingle; with one sha256 + cheap affine
    // arithmetic the distinct + join-back SHUFFLES cost more than the
    // hashing they save at every scale (shuffling an occurrence twice is
    // dearer than hashing it once), so hashing is inline again and the
    // signature stage is shuffle-free up to the per-doc min aggregate —
    // which partial-aggregates map-side (explode output is doc-contiguous,
    // so each partition collapses to ~1 row per doc before the exchange).
    val base = conv(substring(sha2(col("v"), 256), 1, 7), 16, 10)
      .cast("long")
    val hashed = exploded.select(col("doc_id") +: (0 until nSeeds).map(s =>
      ((lit(MinhashA(s)) * base + lit(MinhashB(s))) % MinhashP)
        .as(s"h$s")): _*)
    val sigs = hashed.groupBy("doc_id")
      .agg(min(col("h0")).as("m0"),
        (1 until nSeeds).map(s => min(col(s"h$s")).as(s"m$s")): _*)
      // r17 (guide §2.4 duplicated subtrees — the neardupClusters r16
      // treatment applied one level down): the signature pipeline
      // (one sha256 per shingle occurrence + the 12-way per-doc min)
      // feeds BOTH sides of the band self-join below, so every
      // evaluation ran it twice (StageProbe: 2 × ~4 CPU-s of the
      // query's ~12 at sf0.1). The per-doc signature frame is tiny —
      // 13 narrow columns per document — so materialize it once and
      // let both join sides read the checkpointed rows.
      .localCheckpoint(true)
    // 4 bands × 3 rows; candidates meet only through the band-key
    // equi-join. Shingle arrays are re-joined by id AFTER banding so the
    // wide arrays never shuffle through the band join (the shape that
    // matters at scale).
    // '_' separators keep variable-width integer minhashes unambiguous
    // in the concatenated key ("1"+"23" vs "12"+"3")
    val bands = sigs.select(col("doc_id"), explode(array(
      (0 until 4).map(bnd => concat(lit(bnd.toString), lit(":"),
        col(s"m${bnd * 3}"), lit("_"), col(s"m${bnd * 3 + 1}"),
        lit("_"), col(s"m${bnd * 3 + 2}"))): _*)).as("band_key"))
    val cand = bands.select(col("band_key"), col("doc_id").as("a_id"))
      .join(bands.select(col("band_key"), col("doc_id").as("b_id")),
        Seq("band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    val pairs = cand
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jac", round(
        expr("size(array_intersect(a_sh, b_sh))").cast("double") /
          expr("size(array_union(a_sh, b_sh))"), 4))
      .filter(col("jac") >= 0.3)
      .select("a_id", "b_id", "jac")
    (sh, pairs)
  }

  /** The same pair set served from the DURABLE [[NearDupIndex]] store —
    * the third store's `docs_bm25_indexed` analogue: the corpus is
    * indexed incrementally in two halves (doc_id parity — proving
    * updates compose) and the two updates' reported pairs union to
    * exactly the batch pass's set, each pair surfacing once in the
    * update that completes it. Shares `docs_minhash_neardup`'s oracle.
    * The pair union is materialized once per JVM per sfDir — a
    * store update is not idempotent in its RETURN value (a re-sent
    * batch correctly reports nothing), so the cache holds the result,
    * not just the store.
    */
  private val neardupPairsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def neardupStoreFor(spark: SparkSession,
      sfDir: String): String =
    StoreUtil.cachedTempDir(neardupPairsCache, sfDir,
      "graft-ndserve") { d =>
      val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
      val store = s"$d/store"
      val p1 = NearDupIndex.update(spark, store,
        docs.filter(col("doc_id") % 2 === 0))
      val p2 = NearDupIndex.update(spark, store,
        docs.filter(col("doc_id") % 2 === 1))
      p1.unionByName(p2).write.parquet(s"$d/pairs")
    }

  def neardupIndexed(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${neardupStoreFor(spark, sfDir)}/pairs")
      .orderBy("a_id", "b_id")

  /** The ADMISSION check as a gated query: [[NearDupIndex.probe]] of
    * the odd half against an even-half store — read-only, nothing
    * appended — must surface exactly the batch pair set's rows with at
    * least one ODD member (probe pairs new×old and new×new; the
    * store-internal even×even pairs are by definition not its
    * business). The oracle is the batch pipeline's pair CTE with that
    * membership predicate.
    */
  private val neardupProbeCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def neardupProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = StoreUtil.cachedTempDir(neardupProbeCache, sfDir,
      "graft-ndprobe") { d =>
      NearDupIndex.update(spark, d,
        Tables(spark, sfDir, "documents").select("doc_id", "text")
          .filter(col("doc_id") % 2 === 0)).count(): Unit
    }
    NearDupIndex.probe(spark, dir,
      Tables(spark, sfDir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 2 === 1))
      .orderBy("a_id", "b_id")
  }

  val neardupProbeSql: String =
    s"""WITH ${minhashCtesFrom("documents")}
       |SELECT a_id, b_id, jac FROM pairs
       |WHERE jac >= 0.3 AND NOT (a_id % 2 = 0 AND b_id % 2 = 0)
       |ORDER BY a_id, b_id""".stripMargin

  /** The third store's UPSERT lifecycle as a gated row
    * ([[termIndexReindexedFor]]'s discipline on [[NearDupIndex]]):
    * build on the full corpus, delete every 7th doc, upsert back its
    * odd half and overwrite the %11 live slice with DOUBLED text (two
    * write generations, no compact anywhere), then PROBE a disjoint
    * query set — the %5==2 docs re-badged with ids shifted +10⁷ so
    * every probe id is new — against the store. Each reported pair
    * has its probe member as `b_id` (shifted ids sort above every
    * store id), so the oracle is the batch pair CTE over the union of
    * the probe docs and the LIVE post-upsert corpus, filtered to
    * pairs with a probe member: deleted docs must not pair at all,
    * superseded generations must not pair, upserted docs must pair by
    * their NEW text.
    */
  private val neardupReixCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def neardupReindexed(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = StoreUtil.cachedTempDir(neardupReixCache, sfDir,
      "graft-ndreix") { d =>
      // prefix-shared with the serve fixture: its two-half update IS
      // this store's verbatim history prefix (the probe pairs the
      // updates returned are not needed here)
      StoreUtil.copyRec(s"${neardupStoreFor(spark, sfDir)}/store", d)
      val docs = Tables(spark, sfDir, "documents")
        .select("doc_id", "text")
      NearDupIndex.delete(spark, d,
        docs.filter(delPred).select("doc_id"))
      NearDupIndex.upsert(spark, d, doubledText(docs.filter(reAddPred)))
      NearDupIndex.upsert(spark, d, doubledText(docs.filter(reUpdPred)))
      (): Unit
    }
    NearDupIndex.probe(spark, dir,
      Tables(spark, sfDir, "documents")
        .filter(col("doc_id") % 5 === 2)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      .orderBy("a_id", "b_id")
  }

  val neardupReindexedSql: String = {
    val corpus =
      """(SELECT doc_id + 10000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 5 = 2
        |  UNION ALL
        |  SELECT doc_id,
        |    CASE WHEN (doc_id % 7 = 3 AND doc_id % 2 = 1)
        |           OR (doc_id % 11 = 5 AND doc_id % 7 <> 3)
        |         THEN text || ' ' || text ELSE text END AS text
        |  FROM documents
        |  WHERE NOT (doc_id % 7 = 3) OR doc_id % 2 = 1) u"""
        .stripMargin
    s"""WITH ${minhashCtesFrom(corpus)}
       |SELECT a_id, b_id, jac FROM pairs
       |WHERE jac >= 0.3 AND b_id >= 10000000
       |ORDER BY a_id, b_id""".stripMargin
  }

  def minhashNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    // Materialize eagerly (the pair set is tiny — banded candidates that
    // survived the verify) so the shingle cache can be RELEASED here:
    // Spark caches live in the CacheManager until unpersist or session
    // stop, so a lazily-returned frame would pin one entry per
    // (session, sfDir) for the session's lifetime.
    val (sh, pairs) = minhashPairs(spark, sfDir)
    val out = pairs.orderBy("a_id", "b_id").localCheckpoint(true)
    sh.unpersist()
    out
  }

  /** Shared CTE body of the MinHash pipeline (used by the pair query and
    * the clustering oracle), parameterized by the corpus relation so
    * composed oracles (the curation pipeline) can run it over a filtered
    * survivor CTE.
    */
  private def minhashCtesFrom(table: String): String = {
    // base(v): first 7 hex chars of sha256 via DuckDB's 0x-literal cast;
    // mirrors Spark's conv(substr(sha2), 16, 10), computed once per
    // shingle. The 12 seed transforms are UNROLLED with literal
    // constants: an indexed `[a...][sd]` lambda re-builds the constant
    // list per element in DuckDB (measured 9x slower).
    val seedMins = (0 until 12).map(s =>
      s"list_min(list_transform(bases, x -> (${MinhashA(s)} * x + " +
        s"${MinhashB(s)}) % $MinhashP))").mkString(",\n    ")
    s"""sh AS (SELECT doc_id, $duckShingles AS s FROM $table),
       |shb AS (
       |  SELECT doc_id, s,
       |    list_transform(s, v ->
       |      CAST('0x' || substr(sha256(v), 1, 7) AS BIGINT)) AS bases
       |  FROM sh),
       |sigs AS (
       |  SELECT doc_id, s, [$seedMins] AS sig
       |  FROM shb),
       |bands AS (
       |  SELECT doc_id, s,
       |    unnest(list_transform(generate_series(0, 3),
       |      b -> b || ':' || sig[b*3 + 1] || '_' || sig[b*3 + 2] ||
       |           '_' || sig[b*3 + 3])) AS band_key
       |  FROM sigs),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b USING (band_key)
       |  WHERE a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT a_id, b_id,
       |    round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
       |          / len(list_distinct(list_concat(x.s, y.s))), 4) AS jac
       |  FROM cand
       |  JOIN sh x ON x.doc_id = a_id
       |  JOIN sh y ON y.doc_id = b_id)""".stripMargin
  }

  val minhashNearDupSql: String =
    s"""WITH ${minhashCtesFrom("documents")}
       |SELECT a_id, b_id, jac FROM pairs WHERE jac >= 0.3
       |ORDER BY a_id, b_id""".stripMargin

  /** The NEAR-DUP-granularity companion of [[sourceOverlap]]: which
    * source pairs share verified MinHash near-duplicates (jac ≥ 0.3),
    * how many, and how similar — exact-identity overlap catches
    * verbatim mirroring; this catches boilerplate re-hosting and
    * templated rewrites the hash matrix misses. Cost shape: the
    * verified pair set (already tiny — banding + verify pruned it)
    * joins the slim (doc_id, source) projection twice, then one
    * |sources|²-bounded aggregate.
    */
  def sourceNearDupOverlap(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val (sh, pairs) = minhashPairs(spark, sfDir)
    val src = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"))
    val out = pairs
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")),
        "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")),
        "b_id")
      .filter(col("sa") =!= col("sb"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jac"))
      // the mean is computed in EXACT integer 4dp units with explicit
      // half-up division, NOT round(avg(double), 4): a 2-pair group
      // whose jacs straddle .xxxx5 puts the float mean on the rounding
      // knife-edge, and the engines' summation order resolves the tie
      // differently (caught by the sf0.1 sweep — green at sf0.01)
      .withColumn("jac_q4",
        round(col("jac") * 10000).cast("long"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("neardup_pairs"),
        sum("jac_q4").as("sum_q4"))
      .select(col("source_a"), col("source_b"), col("neardup_pairs"),
        (expr("(2 * sum_q4 + neardup_pairs) div (2 * neardup_pairs)")
          .cast("double") / 10000.0).as("avg_jac"))
      .orderBy("source_a", "source_b")
      .localCheckpoint(true)
    sh.unpersist()
    out
  }

  val sourceNearDupOverlapSql: String =
    s"""WITH ${minhashCtesFrom("documents")},
       |pp AS (SELECT a_id, b_id, jac FROM pairs WHERE jac >= 0.3),
       |j AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b, jac
       |  FROM pp JOIN documents da ON da.doc_id = a_id
       |          JOIN documents db ON db.doc_id = b_id
       |  WHERE da.source <> db.source),
       |g AS (
       |  SELECT source_a, source_b, count(*) AS neardup_pairs,
       |    CAST(sum(CAST(round(jac * 10000) AS BIGINT)) AS BIGINT)
       |      AS sum_q4
       |  FROM j GROUP BY source_a, source_b)
       |SELECT source_a, source_b, neardup_pairs,
       |  CAST((2 * sum_q4 + neardup_pairs) // (2 * neardup_pairs)
       |    AS DOUBLE) / 10000.0 AS avg_jac
       |FROM g ORDER BY source_a, source_b""".stripMargin

  // -------------------------------------------------------------------- //
  // Near-dup CLUSTERING: connected components over the MinHash pair     //
  // graph (the step that turns pairs into keep/drop decisions — one     //
  // representative per cluster). Spark side: iterative min-label        //
  // propagation to fixpoint (labels shuffle on node id each round;      //
  // rounds ≤ graph diameter). Oracle: recursive-CTE transitive closure. //
  // -------------------------------------------------------------------- //

  /** Edge-count bound under which connected components run as driver
    * union-find instead of the distributed fixpoint — the same adaptive
    * call AQE makes when it broadcasts a small join side. 1M undirected
    * edges ≈ 16 MB of longs on the driver; a 100 TB corpus whose
    * near-dup graph exceeds it takes the fixpoint path unchanged.
    * (ComponentsSpec proves both paths identical on random graphs.)
    */
  private[operators] val LocalComponentEdgeLimit = 1000000L

  /** Rounds the last [[componentsFixpoint]] run took — observability
    * only: ComponentsSpec reads it to pin the fixpoint's diameter-bound
    * round count; a query never does. Single-threaded per spec run.
    */
  private[graft] val lastFixpointRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Rounds the last star-contraction run took — observability only,
    * read by ComponentsSpec like [[lastFixpointRounds]].
    */
  private[graft] val lastStarRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Connected components over an undirected pair list. Returns
    * (node, label) for every node that appears in a pair; label = the
    * component's minimum node id. Graphs up to `localEdgeLimit` edges
    * run as driver union-find, larger ones as the distributed star
    * contraction ([[componentsStarOn]]).
    */
  private[graft] def components(pairs: DataFrame,
      localEdgeLimit: Long = LocalComponentEdgeLimit): DataFrame = {
    // eager localCheckpoint: every contraction round's plan embeds
    // `edges`, so a cache would drag the ENTIRE minhash-pipeline
    // logical plan through analysis once per round — checkpointing
    // pins just the rows.
    // Checkpoint the PAIR set BEFORE the symmetric union: the two
    // union branches are otherwise two whole copies of the upstream
    // pair pipeline (only the shingle frame is cached, not the band
    // join / jaccard verify), so one action evaluated the banded
    // MinHash pipeline TWICE — measured 33.5 vs 14.3 CPU-s on the
    // docs_neardup_clusters probe before/after (guide §2.4: remove
    // duplicated subtrees before removing shuffles).
    val p = pairs.localCheckpoint(true)
    val edges = p
      .union(p.select(col("b_id"), col("a_id")))
      .toDF("src", "dst")
      .localCheckpoint(true)
    // The checkpoint materialized the edge set, so its size is known for
    // free — route tiny graphs around the multi-round join rounds
    // (each round is ~1 s of scheduling even on 25 edges).
    // divide the (doubled) edge count rather than doubling the limit:
    // 2 * Long.MaxValue overflows negative and would silently route a
    // force-local probe (limit = Long.MaxValue) to the distributed leg
    if (edges.count() / 2 <= localEdgeLimit)
      return componentsLocal(pairs.sparkSession, edges)
    componentsStarOn(edges)
  }

  /** The previous distributed leg — iterative min-label propagation to
    * fixpoint. Kept as ComponentsSpec's REFERENCE for the star
    * contraction (the spec gates label-identical output): its round
    * count tracks graph DIAMETER
    * (chain@10M edges: 11 rounds, 42 s vs star-shape's 2 rounds —
    * PERF.md round 10), which is exactly what [[componentsStarOn]]
    * bounds logarithmically.
    */
  private[graft] def componentsFixpoint(pairs: DataFrame): DataFrame = {
    // same single-evaluation discipline as [[components]]: checkpoint
    // the pair set before the symmetric union doubles its plan
    val p = pairs.localCheckpoint(true)
    val edges = p
      .union(p.select(col("b_id"), col("a_id")))
      .toDF("src", "dst")
      .localCheckpoint(true)
    // Iterate to FULL convergence: labels are monotonically decreasing,
    // so termination is guaranteed in ≤ diameter rounds and the result
    // matches the oracle's transitive closure exactly. One cached frame
    // per round; the `changed` count materializes it, the previous
    // round's cache is dropped, and everything is released once the
    // (small: near-dup nodes only) result is checkpointed.
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    var changed = 1L
    lastFixpointRounds.set(0)
    while (changed > 0) {
      lastFixpointRounds.incrementAndGet(): Unit
      val prop = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min("label").as("nlabel"))
      // NOTE: pointer doubling (an extra label[label] self-join per
      // round) was measured 38% SLOWER here — near-dup graphs have
      // tiny diameters, so the saved rounds don't pay for the added
      // join (negative result recorded in PERF.md).
      // eager localCheckpoint, not cache: truncates lineage so round N's
      // plan stays CONSTANT-SIZE (a cached-only fixpoint re-analyzes the
      // whole join history every round — planning time grows with the
      // round count), and blocks are ContextCleaner-collected without
      // the manual unpersist bookkeeping
      val merged = labels.join(prop, Seq("node"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("newLabel"))
        .localCheckpoint(true)
      changed = merged.filter(col("newLabel") =!= col("label")).count()
      labels = merged.select(col("node"), col("newLabel").as("label"))
    }
    labels
  }

  /** Distributed components via ALTERNATING STAR CONTRACTION —
    * large-star / small-star (Kiveris et al., "Connected Components in
    * Map-Reduce and Beyond", SoCC 2014): rounds are provably
    * O(log² n) and in practice track log(diameter), where the
    * min-label fixpoint's rounds track the diameter ITSELF — the
    * chain-of-near-dups regime that cost the fixpoint 11 rounds at 10M
    * edges converges here in ~4. (An r12 experiment interleaved a
    * Reif-style RANDOM-MATE contraction into each round so the live
    * EDGE set would shrink geometrically in the chain regime; measured
    * SLOWER on every 10M-edge cell — the mate step costs a full
    * star-pass per round and the shrink never repays it. Negative
    * result recorded in PERF.md round 12, next to the fixpoint's
    * pointer-doubling negative below.) Each round:
    *
    *   LARGE-STAR: every node u links each LARGER neighbor to
    *     min(Γ(u) ∪ {u}) — long tails fold onto their local minimum
    *     without ever creating an edge that points "up".
    *   SMALL-STAR: canonicalize edges (hi → lo); every node links its
    *     smaller neighbors AND itself to the minimum — flattening the
    *     partial stars large-star left.
    *
    * Both steps are a groupBy(min) + a same-key join + a distinct —
    * key-partitioned shuffles only, no driver state; converged when
    * the edge set reaches its fixed point (then every edge is
    * (node → component-min), i.e. the label forest itself).
    */
  private def componentsStarOn(edges: DataFrame): DataFrame = {
    val nodes = edges.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    // canonical (v > m) seed set — `edges` arrives doubled, so keeping
    // the src > dst direction is one filter, not a greatest/least pass
    var cur = edges.filter(col("src") > col("dst"))
      .select(col("src").as("v"), col("dst").as("m"))
      .distinct()
      .localCheckpoint(true)
    lastStarRounds.set(0)
    var converged = cur.isEmpty // all-singleton input: nothing to do
    while (!converged) {
      lastStarRounds.incrementAndGet(): Unit
      import org.apache.spark.sql.expressions.Window
      val adj = cur.select(col("v").as("u"), col("m").as("w"))
        .union(cur.select(col("m").as("u"), col("v").as("w")))
      // each star step is a WINDOW MIN over the node's partition — ONE
      // exchange of the edge frame per step, where a groupBy(min) +
      // join costs the aggregate's exchange AND a second shuffle of
      // the edges into the join (the aggregate exchange partial-
      // combines, so the planner can never reuse it for the join
      // side). Duplicates out of large-star (the same (hi, lo) from
      // two u-partitions) are min-blind and fold at `small`'s distinct.
      val large = adj
        .withColumn("lm", least(min("w").over(Window.partitionBy("u")),
          col("u")))
        .filter(col("w") > col("u"))
        .select(col("w").as("hi"), col("lm").as("lo"))
        .localCheckpoint(true)
      val smAll = large
        .withColumn("sm", min("lo").over(Window.partitionBy("hi")))
      val small = smAll.filter(col("lo") =!= col("sm"))
        .select(col("lo").as("v"), col("sm").as("m"))
        .union(smAll.select(col("hi").as("v"), col("sm").as("m")))
        .distinct()
        .localCheckpoint(true)
      // fixed point: new ⊆ old and |new| == |old| → the sets are equal
      converged = small.count() == cur.count() &&
        small.join(cur, Seq("v", "m"), "left_anti").isEmpty
      cur = small
    }
    nodes.join(cur.withColumnRenamed("v", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("m"), col("node")).as("label"))
  }

  /** Driver union-find over a BOUNDED edge set (min-id root + full path
    * compression, so `label = min(component)` — byte-identical to the
    * distributed fixpoint's transitive min-label closure).
    */
  private def componentsLocal(spark: SparkSession,
      edges: DataFrame): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().foreach { row =>
        val (s, d) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(s, s)
        parent.getOrElseUpdate(d, d)
        val (rs, rd) = (find(s), find(d))
        if (rs < rd) parent(rd) = rs
        else if (rd < rs) parent(rs) = rd
      }
    parent.keysIterator.map(n => (n, find(n))).toSeq
      .toDF("node", "label")
  }

  def neardupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val (sh, rawPairs) = minhashPairs(spark, sfDir)
    val labels = components(rawPairs.select("a_id", "b_id"))
    val out = labels
      .select(col("node").as("doc_id"), col("label").as("cluster_rep"),
        (col("node") === col("label")).as("keep"))
      .orderBy("doc_id")
      .localCheckpoint(true)
    sh.unpersist()
    out
  }

  /** Recursive transitive closure over the same pair pipeline. */
  val neardupClustersSql: String =
    s"""WITH RECURSIVE ${minhashCtesFrom("documents")},
       |npairs AS (SELECT a_id, b_id FROM pairs WHERE jac >= 0.3),
       |edges AS (
       |  SELECT a_id AS s, b_id AS d FROM npairs
       |  UNION ALL SELECT b_id, a_id FROM npairs),
       |nodes AS (SELECT DISTINCT s AS node FROM edges),
       |reach(node, label) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node)
       |SELECT node AS doc_id, min(label) AS cluster_rep,
       |       (node = min(label)) AS keep
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------- //
  // Near-dup KEEP-BEST: the curation policy on top of the clusters —    //
  // one kept representative per near-dup cluster, chosen by quality     //
  // score (tie → min doc_id), not by graph label. This is what a real   //
  // dedup run does with the clusters: drop all but the best copy.       //
  // -------------------------------------------------------------------- //

  /** One row per near-dup cluster: its size, the best quality score
    * inside it, and the kept doc (max quality, ties to the smallest
    * doc_id — picked via explicit max-then-min aggregation so the
    * choice is deterministic in both engines, no argmax tie ambiguity).
    * Scale shape: labels come from [[components]] (bounded near-dup
    * nodes only), quality joins per node, and both aggregations are
    * map-side-combinable on the cluster label.
    */
  def neardupKeepBest(spark: SparkSession, sfDir: String): DataFrame = {
    val (sh, rawPairs) = minhashPairs(spark, sfDir)
    val labels = components(rawPairs.select("a_id", "b_id"))
    val quality = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr(s"size($toks)").as("n_tokens"),
        expr(s"size(filter($toks, t -> t IN ($stopList)))").as("n_stop"))
      .select(col("doc_id"), qualityCol(col("n_stop"), col("n_tokens"))
        .as("quality"))
    val cl = labels
      .join(quality, col("node") === col("doc_id"))
      .select(col("label"), col("doc_id"), col("quality"))
    val perCluster = cl.groupBy(col("label").as("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"),
        max(col("quality")).as("best_quality"))
    val out = cl
      .join(perCluster, col("label") === col("cluster_rep") &&
        col("quality") === col("best_quality"))
      .groupBy(col("cluster_rep"), col("cluster_size"), col("best_quality"))
      .agg(min(col("doc_id")).as("kept_doc"))
      .orderBy(col("cluster_rep"))
      .localCheckpoint(true)
    sh.unpersist()
    out
  }

  val neardupKeepBestSql: String =
    s"""WITH RECURSIVE ${minhashCtesFrom("documents")},
       |npairs AS (SELECT a_id, b_id FROM pairs WHERE jac >= 0.3),
       |edges AS (
       |  SELECT a_id AS s, b_id AS d FROM npairs
       |  UNION ALL SELECT b_id, a_id FROM npairs),
       |nodes AS (SELECT DISTINCT s AS node FROM edges),
       |reach(node, label) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node),
       |labels AS (SELECT node, min(label) AS label FROM reach GROUP BY node),
       |q AS (
       |  SELECT doc_id,
       |    round(0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
       |        + 0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0), 4)
       |      AS quality
       |  FROM (SELECT doc_id, len($duckToks) AS n_tokens,
       |          len(list_filter($duckToks, t -> t IN ($stopList))) AS n_stop
       |        FROM documents)),
       |cl AS (
       |  SELECT l.label, q.doc_id, q.quality
       |  FROM labels l JOIN q ON q.doc_id = l.node),
       |per_cluster AS (
       |  SELECT label AS cluster_rep, count(*) AS cluster_size,
       |    max(quality) AS best_quality
       |  FROM cl GROUP BY label)
       |SELECT cluster_rep, cluster_size, best_quality,
       |  min(doc_id) AS kept_doc
       |FROM cl JOIN per_cluster
       |  ON label = cluster_rep AND quality = best_quality
       |GROUP BY cluster_rep, cluster_size, best_quality
       |ORDER BY cluster_rep""".stripMargin

  // -------------------------------------------------------------------- //
  // BPE merge candidates: one iteration of byte-pair-encoding training  //
  // — count adjacent token pairs corpus-wide, rank the top merges.      //
  // -------------------------------------------------------------------- //

  /** The pair-counting step a BPE tokenizer trainer runs per merge
    * round: adjacent (tokenᵢ, tokenᵢ₊₁) occurrences counted corpus-wide,
    * top-20 by frequency (ties broken by pair text). Scale shape: the
    * explode is map-local, the count partial-aggregates per partition
    * (pair vocabulary ≪ occurrences), and the top-20 compiles to
    * TakeOrderedAndProject — the full pair distribution never sorts.
    * A real trainer iterates: apply the best merge, recount; each round
    * is exactly this plan over the re-tokenized corpus.
    */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(explode(expr(
        s"""CASE WHEN size($toks) >= 2 THEN
           |  transform(sequence(1, size($toks) - 1),
           |    i -> concat(element_at($toks, i), '|',
           |                element_at($toks, i + 1)))
           |ELSE cast(array() AS array<string>) END""".stripMargin))
        .as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(20)

  val bpeMergesSql: String =
    s"""SELECT pair, count(*) AS pair_count
       |FROM (
       |  SELECT unnest(list_transform(
       |    generate_series(1, len($duckToks) - 1),
       |    i -> $duckToks[i] || '|' || $duckToks[i + 1])) AS pair
       |  FROM documents)
       |GROUP BY pair
       |ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin

  // -------------------------------------------------------------------- //
  // Iterated BPE vocabulary — the ACTUAL tokenizer-training loop, not   //
  // just one pair count: N rounds of (count adjacent pairs corpus-wide  //
  // → pick the most frequent → apply the merge greedily left-to-right   //
  // → recount over the re-tokenized corpus), emitting the first N vocab //
  // entries in learned order (Sennrich ACL'16).                          //
  //                                                                      //
  // Cross-engine determinism is the hard part, solved by representation //
  // instead of per-engine folds: the token sequence lives as TEXT with  //
  // every boundary (and both ends) = exactly two chr(1) separators, so  //
  // applying merge (a,b) greedily left-to-right non-overlapping is ONE  //
  // literal (non-regex) replace of  sep·a·sep·sep·b·sep  with           //
  //  sep·(a␣b)·sep  — each match consumes one separator from each       //
  // neighboring boundary and the replacement restores it, so adjacent   //
  // matches still fire ("a b a b" merges twice) while overlapping ones  //
  // don't ("a a a" merges once). Spark's `replace` and DuckDB's         //
  // `replace` share these left-to-right non-overlap semantics exactly,  //
  // so the two engines agree bit-for-bit by construction. Ties in the   //
  // pair count break (count DESC, a ASC, b ASC) — binary collation on   //
  // both engines.                                                        //
  //                                                                      //
  // Scale (100 TB): each round is one map-local pair explode + partial  //
  // agg + a 1-row TakeOrdered (the winner — the only driver collect),   //
  // then a map-ONLY replace pass; the corpus is localCheckpoint'd per   //
  // round so round r never recomputes rounds 1..r-1. Cost is N × (one   //
  // scan + one bounded shuffle of the pair vocabulary) — exactly what a //
  // distributed BPE trainer pays.                                        //
  // -------------------------------------------------------------------- //

  private val BpeRounds = 8
  // "\\u0001": guaranteed absent from the corpus text and from merged
  // tokens (which join with ' ') -- the DuckDB side is chr(1)
  private val BpeSep = "\u0001"

  private val bpeCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Text → the double-separator representation (every boundary and
    * both ends = exactly two separators). */
  private[graft] def bpeRepr(text: Column): Column = {
    val SS = BpeSep + BpeSep
    concat(lit(SS), concat_ws(SS, split(text, " ")), lit(SS))
  }

  /** Representation → token array. */
  private[graft] def bpeToks(txt: Column): Column =
    split(txt.substr(lit(3), length(txt) - 4), BpeSep + BpeSep)

  /** ONE greedy left-to-right merge of pair (a, b) in the
    * representation — the literal replace whose shared-boundary
    * separator consumption/restoration makes adjacent matches fire and
    * overlapping ones not (BpeMergeExhaustiveSpec proves it equals a
    * plain greedy fold over every token sequence up to length 5).
    */
  private[graft] def bpeApplyMerge(txt: Column, a: String,
      b: String): Column = {
    val S = BpeSep; val SS = S + S
    replace(txt, lit(S + a + SS + b + S), lit(S + a + " " + b + S))
  }

  /** The raw trainer loop over a (doc_id, text) frame. Returns the
    * final (still-checkpointed) corpus frame — caller must unpersist
    * it — and the learned merges.
    */
  private def bpeTrainOn(docs: DataFrame)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    var t = docs
      .select(col("doc_id"), bpeRepr(col("text")).as("txt"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= BpeRounds && !dry) {
      val win = t
        .withColumn("tk", bpeToks(col("txt")))
        .select(explode(expr(
          """CASE WHEN size(tk) >= 2 THEN
            |  transform(sequence(1, size(tk) - 1),
            |    i -> struct(element_at(tk, i) AS a,
            |                element_at(tk, i + 1) AS b))
            |ELSE cast(array() AS array<struct<a:string,b:string>>) END"""
            .stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (win.isEmpty) dry = true
      else {
        val (a, b, c) =
          (win(0).getString(0), win(0).getString(1), win(0).getLong(2))
        out += ((r, a, b, a + " " + b, c))
        val prev = t
        t = t.select(col("doc_id"),
          bpeApplyMerge(col("txt"), a, b).as("txt"))
          .localCheckpoint(true)
        prev.unpersist()
        r += 1
      }
    }
    (t, out.toSeq)
  }

  /** Train ONCE per JVM per corpus dir (the StoreUtil.cachedTempDir
    * memoization every durable-store query here uses — both gated rows
    * and repeated bench runs share one training): the loop writes the
    * final re-tokenized corpus to `dir/corpus` and the learned merge
    * list to `dir/merges` as parquet, and each round unpersists the
    * previous checkpoint as soon as the next is materialized, so peak
    * executor storage is TWO corpus-width frames, not N — and zero
    * once training ends (the parquet files are the durable face).
    */
  private def bpeTrained(spark: SparkSession, sfDir: String): String =
    StoreUtil.cachedTempDir(bpeCache, sfDir, "graft-bpe") { dir =>
      import spark.implicits._
      val (t, merges) = bpeTrainOn(Tables(spark, sfDir, "documents"))
      t.write.parquet(s"$dir/corpus")
      t.unpersist()
      merges.toDF("round", "token_a", "token_b", "merged", "pair_count")
        .coalesce(1).write.parquet(s"$dir/merges")
    }

  def bpeVocab(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${bpeTrained(spark, sfDir)}/merges")
      .orderBy("round")

  /** Token count of a corpus row in the double-separator representation:
    * boundaries are exactly `len/2` non-overlapping `sep·sep`
    * occurrences, tokens are boundaries − 1 — counted by length
    * difference after deleting the separators, so the two engines share
    * the arithmetic exactly.
    */
  private def sepTokCount(txt: Column): Column =
    ((length(txt) -
      length(replace(txt, lit(BpeSep + BpeSep), lit("")))) / 2 - 1)
      .cast("long")

  /** APPLY the learned vocabulary — the per-document compression view a
    * tokenizer deployment reports: token count before/after the
    * [[bpeVocab]] merges and the saving. Training is [[bpeTrained]]'s
    * memoized loop (at 100 TB a trainer runs it on a sample);
    * application reads the trained corpus parquet the loop already
    * materialized — one scan and a key join, no re-training.
    */
  def bpeTokenize(spark: SparkSession, sfDir: String): DataFrame = {
    val t = spark.read.parquet(s"${bpeTrained(spark, sfDir)}/corpus")
    val before = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok_before"))
    before.join(t, "doc_id")
      .select(col("doc_id"), col("n_tok_before"),
        sepTokCount(col("txt")).as("n_tok_after"))
      .withColumn("n_saved", col("n_tok_before") - col("n_tok_after"))
      .orderBy("doc_id")
  }

  /** The same N-round loop UNROLLED as one DuckDB CTE chain (the
    * "iterated temp-table oracle" — round counts depend on full-corpus
    * aggregation, which a recursive CTE's recursive member can't hold).
    * Shared by the vocab and tokenizer-application oracles.
    */
  private def bpeOracleCtes: String = {
    val s = "chr(1)"; val ss = "(chr(1) || chr(1))"
    val body = (1 to BpeRounds).map { r =>
      s"""p$r AS (
         |  SELECT u['a'] AS a, u['b'] AS b, count(*) AS c FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
         |      i -> {'a': tk[i], 'b': tk[i + 1]})) AS u
         |    FROM (SELECT string_split(substr(txt, 3, len(txt) - 4), $ss)
         |            AS tk
         |          FROM t${r - 1}))
         |  GROUP BY 1, 2),
         |w$r AS (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
         |t$r AS (
         |  SELECT t.doc_id,
         |    CASE WHEN w.a IS NULL THEN t.txt
         |         ELSE replace(t.txt, $s || w.a || $ss || w.b || $s,
         |                      $s || w.a || ' ' || w.b || $s) END AS txt
         |  FROM t${r - 1} t LEFT JOIN w$r w ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""t0 AS (
       |  SELECT doc_id,
       |    $ss || array_to_string(string_split(text, ' '), $ss) || $ss
       |      AS txt
       |  FROM documents),
       |$body""".stripMargin
  }

  val bpeVocabSql: String = {
    val sel = (1 to BpeRounds).map(r =>
      s"SELECT CAST($r AS INT) AS round, a AS token_a, b AS token_b, " +
        s"a || ' ' || b AS merged, c AS pair_count FROM w$r")
      .mkString("\nUNION ALL\n")
    s"WITH $bpeOracleCtes\n$sel\nORDER BY round"
  }

  val bpeTokenizeSql: String = {
    val ss = "(chr(1) || chr(1))"
    def nTok(t: String) =
      s"(len($t.txt) - len(replace($t.txt, $ss, ''))) // 2 - 1"
    s"""WITH $bpeOracleCtes
       |SELECT b.doc_id,
       |  ${nTok("b")} AS n_tok_before,
       |  ${nTok("a")} AS n_tok_after,
       |  (${nTok("b")}) - (${nTok("a")}) AS n_saved
       |FROM t0 b JOIN t$BpeRounds a USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------- //
  // SimHash: 16-bit fingerprint — per-bit majority vote over sha2 bits   //
  // of the distinct token set. Integer arithmetic end-to-end.            //
  // -------------------------------------------------------------------- //

  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr(
        s"""aggregate(sequence(0, 15), 0, (acc, j) -> acc +
           |  CASE WHEN aggregate($dToks, 0, (a2, t) -> a2 +
           |    (2 * (shiftright(instr('0123456789abcdef',
           |       substring(sha2(t, 256), (j div 4) + 1, 1)) - 1, j % 4) % 2) - 1)) > 0
           |  THEN shiftleft(1, j) ELSE 0 END)""".stripMargin).as("simhash"))
      .orderBy("doc_id")

  val simhashSql: String =
    s"""SELECT doc_id,
       |  CAST(list_sum(list_transform(generate_series(0, 15), j ->
       |    CASE WHEN list_sum(list_transform(list_distinct($duckToks), t ->
       |      2 * (((strpos('0123456789abcdef',
       |         substr(sha256(t), (j // 4) + 1, 1)) - 1) >> (j % 4)) & 1) - 1)) > 0
       |    THEN 1 << j ELSE 0 END)) AS INT) AS simhash
       |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------- //
  // SimHash near-dup PAIRS: a 60-bit fingerprint (per-bit majority vote //
  // over the token set's 60-bit sha256-prefix fingerprints — the same   //
  // recipe ngramJaccard scores with) blocked into 4 bands of 15 bits    //
  // (Manku et al., "Detecting Near-Duplicates for Web Crawling",        //
  // WWW 2007). Hamming radius 3 with 4 bands means at most 3 bits       //
  // differ, so by pigeonhole at least ONE band is bit-identical —       //
  // band-equality blocking has EXACT recall at this radius, and the     //
  // candidate join is an equi-join on (band, key), never all-pairs.     //
  //                                                                     //
  // 100 TB shape: the banded join shuffles 4 skinny rows per document   //
  // on (band, 15-bit key). Key cardinality is 2^15 per band, so beyond  //
  // ~10^8 documents per shuffle the right move is the paper's own       //
  // §3 scale-out — widen the fingerprint and band count (the           //
  // pigeonhole bound generalizes: radius ≤ bands − 1) or rotate to its //
  // sorted permutation tables; identical-fingerprint cliques are true   //
  // hamming-0 OUTPUT, not join skew to guard away (cf. the stop-hash    //
  // cap in winnowPairs, which prunes candidates — here the pairs are    //
  // the result). Reference scope: fs-indexer has no near-dup tier; this //
  // extends scanner.py's per-file identity hashing (scanner.py:343) to  //
  // content similarity.                                                 //
  // -------------------------------------------------------------------- //

  private val shBandBits = 15
  private val shBands = 4
  private val shBits = shBands * shBandBits // 60
  private val shRadius = shBands - 1

  /** Per-document 60-bit SimHash, in the minhash-signature shape: one
    * sha256 per DISTINCT token (explode-then-hash), then 60 codegen'd
    * `sum(±1)` vote columns collapsed by ONE doc_id aggregate (tokens
    * are doc-contiguous after explode, so partial aggregation folds to
    * ~1 row per doc map-side), then one 60-term select assembles the
    * fingerprint. The naive form — a per-row HOF re-walking the token
    * array once per bit — is 60×|tokens| INTERPRETED lambda steps per
    * document and measured 3.85 s at sf0.1 vs 1.71 s for this shape
    * (checksum-identical; the same interpreted-HOF tax the winnowing
    * kernel and vec_dot paid before their codegen rewrites, PERF.md).
    * The remaining cost is the 1-sha256-per-distinct-token floor the
    * minhash pipeline shares.
    */
  private def simhash60(docs: DataFrame): DataFrame = {
    val f = docs
      .select(col("doc_id"), explode(expr(dToks)).as("v"))
      .select(col("doc_id"), expr(fp60Scalar).as("f"))
    val votes = f.groupBy("doc_id").agg(
      sum(expr("2 * (shiftright(f, 0) % 2) - 1")).as("s0"),
      (1 until shBits).map(j =>
        sum(expr(s"2 * (shiftright(f, $j) % 2) - 1")).as(s"s$j")): _*)
    votes.select(col("doc_id"), expr(
      (0 until shBits).map(j =>
        s"CASE WHEN s$j > 0 THEN ${1L << j}L ELSE 0L END")
        .mkString(" + ")).as("sh"))
  }

  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val t = simhash60(Tables(spark, sfDir, "documents"))
    // 4 banded rows per doc; key = the band's 15-bit slice (sh < 2^60,
    // always non-negative, so shiftright/% are exact)
    val banded = t.select(col("doc_id"), col("sh"),
      explode(expr(s"sequence(0, ${shBands - 1})")).as("band"))
      .withColumn("key",
        expr(s"shiftright(sh, band * $shBandBits) % ${1 << shBandBits}"))
    val a = banded.select(col("band"), col("key"),
      col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = banded.select(col("band"), col("key"),
      col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      // a pair sharing k bands appears k times — dedup BEFORE the
      // hamming filter so the popcount runs once per candidate pair
      .select("a_id", "b_id", "a_sh", "b_sh").distinct()
      .select(col("a_id"), col("b_id"),
        expr("cast(bit_count(a_sh ^ b_sh) AS int)").as("hamming"))
      .filter(col("hamming") <= shRadius)
      .orderBy("a_id", "b_id")
  }

  /** Oracle: the DEFINITIONAL all-pairs hamming join — blocking must be
    * output-invisible (exact recall), so the oracle doesn't mirror it.
    */
  val simhashPairsSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, ${duckFp60(duckToks)} AS fps
       |  FROM documents),
       |t AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(generate_series(0, ${shBits - 1}), j ->
       |      CASE WHEN list_sum(list_transform(fps,
       |          f -> 2 * ((f >> j) & 1) - 1)) > 0
       |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS sh
       |  FROM f)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
       |FROM t a JOIN t b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= $shRadius
       |ORDER BY a_id, b_id""".stripMargin

  // -------------------------------------------------------------------- //
  // Blocked n-gram (1-gram) Jaccard: all pairs within a `source` block.  //
  // -------------------------------------------------------------------- //

  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // per-pair set ops run on 60-bit sha256-prefix token fingerprints
    // (the docs_minhash_recall trick: long-array intersection costs a
    // fraction of string hashing, collisions ~1e-7 at this vocabulary,
    // recipe mirrored verbatim in the oracle), and the size-ratio
    // prefilter prunes most pairs before any set op. The kept predicate
    // is round(jac, 4) >= 0.6, which admits true jac down to 0.59995
    // (jac ≤ min/max), so the implied bound is min·100000 ≥ max·59995 —
    // NOT min·10 ≥ max·6, which would prune pairs with |A|/|B| in
    // [0.59995, 0.6) that the unfiltered query emits. Both engines
    // carry the same bound, result-identical by construction.
    // sf0.1: 7.24 → 5.40 s warm, checksum-identical (the remaining
    // cost is the blocked all-pairs join itself, which is this
    // operator's definition).
    val fp = expr(fp60)
    val t = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), fp.as("s"))
    val a = t.select(col("source"), col("doc_id").as("a_id"), col("s").as("a_s"))
    val b = t.select(col("source"), col("doc_id").as("b_id"), col("s").as("b_s"))
    a.join(b, Seq("source"))
      .filter(col("a_id") < col("b_id"))
      .filter(expr("size(a_s) * 100000L >= size(b_s) * 59995L") &&
        expr("size(b_s) * 100000L >= size(a_s) * 59995L"))
      .withColumn("jac", round(
        expr("size(array_intersect(a_s, b_s))").cast("double") /
          expr("size(array_union(a_s, b_s))"), 4))
      .filter(col("jac") >= 0.6)
      .select("a_id", "b_id", "jac")
      .orderBy("a_id", "b_id")
  }

  val ngramJaccardSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, ${duckFp60(duckToks)} AS s
       |  FROM documents)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.s, b.s))), 4) AS jac
       |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
       |  AND len(a.s) * 100000 >= len(b.s) * 59995
       |  AND len(b.s) * 100000 >= len(a.s) * 59995
       |WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.6
       |ORDER BY a_id, b_id""".stripMargin

  // -------------------------------------------------------------------- //
  // Asymmetric CONTAINMENT pairs (Broder's resemblance/containment       //
  // split, "On the resemblance and containment of documents", 1997):    //
  // containment(A→B) = |A∩B| / |A|. Catches the small-document-inside-  //
  // big-document duplication Jaccard structurally misses — a 100-token  //
  // doc fully embedded in a 10k-token doc has jac ≈ 0.01 but           //
  // containment 1.0; training-data dedup wants that pair. Same 60-bit  //
  // token fingerprints and source blocking as ngramJaccard; the only   //
  // sound prefilter is on the intersection against the SMALLER side    //
  // (size ratios prune nothing when any size pair can qualify). At     //
  // scale the blocked all-pairs form gives way to banding on the       //
  // smaller set's minima (containment-LSH) — the same banded discipline //
  // minhashPairs uses for resemblance.                                  //
  // -------------------------------------------------------------------- //

  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = expr(fp60)
    val t = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), fp.as("s"))
    val a = t.select(col("source"), col("doc_id").as("a_id"),
      col("s").as("a_s"))
    val b = t.select(col("source"), col("doc_id").as("b_id"),
      col("s").as("b_s"))
    a.join(b, Seq("source"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("inter", expr("size(array_intersect(a_s, b_s))"))
      // round(·,4) ≥ 0.9 admits true ratios down to 0.89995 — the
      // integer bound mirrors that boundary exactly (ngramJaccard's
      // discipline), and the oracle carries BOTH predicates verbatim
      .filter(expr(
        "inter * 100000L >= least(size(a_s), size(b_s)) * 89995L"))
      .withColumn("cont_a",
        round(col("inter").cast("double") / expr("size(a_s)"), 4))
      .withColumn("cont_b",
        round(col("inter").cast("double") / expr("size(b_s)"), 4))
      .filter(greatest(col("cont_a"), col("cont_b")) >= 0.9)
      .select("a_id", "b_id", "cont_a", "cont_b")
      .orderBy("a_id", "b_id")
  }

  val containmentPairsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, ${duckFp60(duckToks)} AS s
       |  FROM documents)
       |SELECT a_id, b_id, cont_a, cont_b FROM (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    len(list_intersect(a.s, b.s)) AS inter,
       |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |          / len(a.s), 4) AS cont_a,
       |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |          / len(b.s), 4) AS cont_b,
       |    least(len(a.s), len(b.s)) AS mn
       |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id)
       |WHERE inter * 100000 >= mn * 89995
       |  AND greatest(cont_a, cont_b) >= 0.9
       |ORDER BY a_id, b_id""".stripMargin

  // -------------------------------------------------------------------- //
  // Prefix-filtered containment join — the SCALE twin of                 //
  // containmentPairs (AllPairs/PPJoin prefix filtering, Bayardo et al., //
  // "Scaling Up All Pairs Similarity Search", WWW 2007): a pair whose   //
  // smaller side A has |A∩B| ≥ o can have at most |A| − o of A's       //
  // tokens outside B, so ANY |A| − o + 1 tokens of A must hit B —      //
  // candidates are found by joining the smaller side's PREFIX (its     //
  // |A| − o + 1 globally-RAREST tokens, document-frequency order) to   //
  // the larger side's full token postings, then verified exactly. The  //
  // filter is LOSSLESS (pigeonhole), so this emits bit-identically the //
  // blocked all-pairs result and shares its oracle.                     //
  //                                                                     //
  // Honesty note, measured: on THIS dup-saturated corpus the filter    //
  // prunes only ~3% (sf0.1: 602,091 candidates vs 622,500 blocked     //
  // pairs, 350,375 of which genuinely qualify — no filter can prune    //
  // below the true result). The structural win is elsewhere: the      //
  // blocked form is a per-source cartesian that degenerates with block //
  // size (a 10⁷-doc source is 5×10¹³ pairs regardless of dup rate),   //
  // while this form's candidates come from a token-postings equi-join  //
  // whose volume tracks actual rare-token collisions — on low-dup      //
  // corpora (Bayardo'07's regime) that is orders of magnitude below    //
  // the cartesian, and it is the only one of the two shapes that       //
  // admits the winnowPairs-style stop-token cap if a pathological      //
  // token slips into a prefix.                                          //
  // -------------------------------------------------------------------- //

  def containmentPrefixPairs(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val fp = expr(fp60)
    val tok = docs
      .select(col("doc_id"), col("source"), explode(fp).as("f"))
    // global document frequency per token fingerprint (rare-first
    // prefixes are what make the filter selective)
    val dfreq = tok.groupBy("f").agg(count(lit(1)).as("df"))
    // per-doc token list ordered (df asc, f asc) — deterministic total
    // order; n, the rounded-boundary minimum overlap o (inter·10⁵ ≥
    // n·89995 ⟺ inter ≥ ⌈n·89995/10⁵⌉), and the pigeonhole prefix
    val ordered = tok.join(dfreq, Seq("f"))
      .groupBy("source", "doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("f"))))
        .as("sf"))
      .select(col("source"), col("doc_id"),
        expr("transform(sf, x -> x.f)").as("s"))
      .withColumn("n", size(col("s")))
      .withColumn("pre", expr(
        "slice(s, 1, n - cast((n * 89995L + 99999L) div 100000L AS int) + 1)"))
      .localCheckpoint(true) // one token shuffle; both join legs reuse it
    val small = ordered.select(col("source"), col("doc_id").as("x_id"),
      col("n").as("x_n"), explode(col("pre")).as("f"))
    val big = ordered.select(col("source"), col("doc_id").as("y_id"),
      col("n").as("y_n"), explode(col("s")).as("f"))
    val cand = small.join(big, Seq("source", "f"))
      .filter(col("x_id") =!= col("y_id"))
      // x is the smaller side (ties broken by id so each unordered pair
      // is probed exactly once, by exactly one designated smaller side)
      .filter(col("x_n") < col("y_n") ||
        (col("x_n") === col("y_n") && col("x_id") < col("y_id")))
      .select(col("source"),
        least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"))
      .distinct()
    // exact verification: identical predicates to containmentPairs, so
    // the lossless prefix filter is output-invisible
    val sets = ordered.select(col("source"), col("doc_id"), col("s"))
    cand
      .join(sets.select(col("source"), col("doc_id").as("a_id"),
        col("s").as("a_s")), Seq("source", "a_id"))
      .join(sets.select(col("source"), col("doc_id").as("b_id"),
        col("s").as("b_s")), Seq("source", "b_id"))
      .withColumn("inter", expr("size(array_intersect(a_s, b_s))"))
      .filter(expr(
        "inter * 100000L >= least(size(a_s), size(b_s)) * 89995L"))
      .withColumn("cont_a",
        round(col("inter").cast("double") / expr("size(a_s)"), 4))
      .withColumn("cont_b",
        round(col("inter").cast("double") / expr("size(b_s)"), 4))
      .filter(greatest(col("cont_a"), col("cont_b")) >= 0.9)
      .select("a_id", "b_id", "cont_a", "cont_b")
      .orderBy("a_id", "b_id")
  }

  // -------------------------------------------------------------------- //
  // BM25 relevance top-k — the in-engine counterpart of the ES           //
  // relevance ranking the reference delegates to the search sink (W3).   //
  // Corpus statistics (N, avgdl, per-term df) are tiny aggregates        //
  // broadcast against the docs; all math is double with a fixed formula  //
  // so both engines emit identical bits.                                 //
  // -------------------------------------------------------------------- //

  private[graft] val bmTerms = Seq("spark", "hash", "window")
  private[operators] val bm25K1 = 1.2
  private[operators] val bm25B = 0.75
  private val k1 = bm25K1
  private val b = bm25B

  def bm25Topk(spark: SparkSession, sfDir: String): DataFrame =
    bm25ScoresOf(Tables(spark, sfDir, "documents"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)

  /** The unlimited scored set (doc_id, score > 0) — the text leg the
    * hybrid RRF fusion ranks over.
    */
  private[graft] def bm25ScoresOf(corpus: DataFrame): DataFrame = {
    val docCols = Seq(col("doc_id"),
      expr(s"size($toks)").cast("double").as("dl")) ++
      bmTerms.zipWithIndex.map { case (t, i) =>
        expr(s"size(filter($toks, x -> x = '$t'))").cast("double")
          .as(s"tf$i")
      }
    val docs = corpus.select(docCols: _*)
    val statCols = Seq(avg(col("dl")).as("avgdl")) ++
      bmTerms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n"),
      statCols: _*)
    val score = bmTerms.indices.map { i =>
      val idf = log((col("n") - col(s"df$i") + 0.5) /
        (col(s"df$i") + 0.5) + 1.0)
      val norm = col(s"tf$i") +
        lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))
      idf * (col(s"tf$i") * lit(k1 + 1)) / norm
    }.reduce(_ + _)
    docs.crossJoin(broadcast(stats))
      .withColumn("score", round(score, 4))
      .filter(col("score") > 0)
      .select("doc_id", "score")
  }

  /** DuckDB CTE body (`d`, `st`) + the score expression — shared by the
    * standalone top-k oracle, the hybrid-search oracle and the
    * post-delete oracles so the formula text exists exactly once.
    * `corpusWhere` restricts the corpus (the deleted-store oracles
    * score against the post-delete corpus — n, avgdl and df all move).
    */
  private[graft] def bm25CtesSqlOn(corpusWhere: String): String =
    bm25CtesSqlFrom(
      s"SELECT doc_id, text FROM documents WHERE $corpusWhere")

  /** The same CTE body over an ARBITRARY (doc_id, text) corpus
    * subquery — the reindexed-store oracle scores against a corpus
    * whose rows are filtered AND whose text is rewritten per doc.
    */
  private[graft] def bm25CtesSqlFrom(corpusSql: String): String = {
    val tfSelects = bmTerms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter($duckToks, x -> x = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(", ")
    val dfSelects = bmTerms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1.0 ELSE 0.0 END) AS df$i")
      .mkString(", ")
    s"""d AS (
       |  SELECT doc_id, CAST(len($duckToks) AS DOUBLE) AS dl, $tfSelects
       |  FROM ($corpusSql) corpus),
       |st AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl, $dfSelects
       |  FROM d)""".stripMargin
  }

  private[graft] val bm25CtesSql: String = bm25CtesSqlOn("TRUE")

  private[graft] val bm25ScoreExprSql: String =
    bmTerms.indices.map(i =>
      s"""ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0)
         | * (tf$i * (1.2 + 1)) / (tf$i + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))"""
        .stripMargin).mkString(" + ")

  private def bm25TopkSqlOn(corpusWhere: String): String =
    bm25TopkSqlFrom(
      s"SELECT doc_id, text FROM documents WHERE $corpusWhere")

  private def bm25TopkSqlFrom(corpusSql: String): String =
    s"""WITH ${bm25CtesSqlFrom(corpusSql)}
       |SELECT doc_id, round($bm25ScoreExprSql, 4) AS score
       |FROM d, st
       |WHERE round($bm25ScoreExprSql, 4) > 0
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  val bm25TopkSql: String = bm25TopkSqlOn("TRUE")

  /** The deterministic delete set for the deletion-lifecycle queries:
    * every 7th document (predicate mirrored in [[bm25TopkDeletedSql]]
    * and the ANN twin) — large enough to move n/avgdl/df visibly,
    * small enough that the top-20 stays populated at sf0.001.
    */
  private[graft] val delPred = col("doc_id") % 7 === 3
  private[graft] val delPredSql = "doc_id % 7 = 3"

  /** The post-DELETE oracle: from-scratch BM25 on the corpus minus the
    * deleted ids — what both the tombstone-subtracted read path
    * (`docs_bm25_indexed_deleted`) and the compaction-folded store
    * (`docs_bm25_compacted`) must reproduce bit-for-bit.
    */
  val bm25TopkDeletedSql: String = bm25TopkSqlOn(s"NOT ($delPredSql)")

  /** The same BM25 top-k served from the DURABLE [[TermIndex]] store:
    * the corpus is indexed incrementally in two halves (doc_id parity —
    * proving updates compose), then the search reads only the query
    * terms' bucket partitions. Shares `docs_bm25_topk`'s oracle: the
    * index-served scores must be bit-identical to the from-scratch
    * batch query.
    */
  /** One TermIndex store per JVM per sfDir ([[StoreUtil.cachedTempDir]]
    * — plain files, any session can read them), built on first use and
    * shared by every index-served registry query (`docs_bm25_indexed`,
    * `docs_phrase_indexed`, `docs_hybrid_indexed` — tf and positional
    * postings live in the same store), deleted on JVM exit. Without the
    * cache each invocation rebuilt a fresh temp store and leaked its
    * directory, folding index-build cost into what is nominally a
    * query.
    */
  private val termIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def termIndexFor(spark: SparkSession,
      sfDir: String): String =
    StoreUtil.cachedTempDir(termIndexCache, sfDir, "graft-termindex") {
      dir =>
        val docs = Tables(spark, sfDir, "documents")
          .select("doc_id", "text")
        // two-half incremental build (doc_id parity) — proves updates
        // compose, same shape the store specs pin
        TermIndex.update(spark, dir, docs.filter(col("doc_id") % 2 === 0))
        TermIndex.update(spark, dir, docs.filter(col("doc_id") % 2 === 1))
    }

  def bm25Indexed(spark: SparkSession, sfDir: String): DataFrame =
    TermIndex.search(spark, termIndexFor(spark, sfDir), bmTerms, k = 20)

  /** [[termIndexFor]]'s post-DELETE twin: same two-half incremental
    * build, then every 7th document tombstoned — serving reads go
    * through the tombstone subtraction ([[TermIndex.delete]]).
    */
  private val termIndexDelCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def termIndexDeletedFor(spark: SparkSession,
      sfDir: String): String =
    StoreUtil.cachedTempDir(termIndexDelCache, sfDir,
      "graft-termindex-del") { dir =>
      // prefix-shared with the plain indexed fixture: its two-half
      // build is this store's verbatim history prefix, so copy + the
      // delete step (the compacted twins' copyRec discipline) — one
      // build per JVM instead of one per lifecycle variant
      StoreUtil.copyRec(termIndexFor(spark, sfDir), dir)
      val docs = Tables(spark, sfDir, "documents")
        .select("doc_id", "text")
      TermIndex.delete(spark, dir, docs.filter(delPred).select("doc_id"))
    }

  /** [[termIndexDeletedFor]] COMPACTED: the tombstones physically fold
    * out of postings + doclen ([[TermIndex.compact]]), so serving runs
    * the plain no-tombstone path over the rewritten store — and must
    * still match the post-delete oracle bit-for-bit.
    */
  private val termIndexDelcCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def termIndexCompactedFor(spark: SparkSession,
      sfDir: String): String =
    StoreUtil.cachedTempDir(termIndexDelcCache, sfDir,
      "graft-termindex-delc") { dir =>
      // prefix-shared with the deleted twin: same store up to the
      // fold, so COPY it and compact the copy instead of replaying
      // the build+delete sequence (StoreUtil.copyRec doc)
      StoreUtil.copyRec(termIndexDeletedFor(spark, sfDir), dir)
      TermIndex.compact(spark, dir)
    }

  /** BM25 from the store AFTER deleting every 7th document — the
    * tombstone-subtracted READ path, gated against from-scratch BM25
    * on the post-delete corpus (deleted docs must stop influencing
    * n/avgdl/df, not just vanish from the hit list).
    */
  def bm25IndexedDeleted(spark: SparkSession, sfDir: String): DataFrame =
    TermIndex.search(spark, termIndexDeletedFor(spark, sfDir),
      bmTerms, k = 20)

  /** The same search after [[TermIndex.compact]] folded the tombstones
    * out — the REWRITTEN store must serve the identical post-delete
    * result with zero tombstones left to subtract.
    */
  def bm25Compacted(spark: SparkSession, sfDir: String): DataFrame =
    TermIndex.search(spark, termIndexCompactedFor(spark, sfDir),
      bmTerms, k = 20)

  // -------------------------------------------------------------------- //
  // UPSERT-BY-ID (re-index) lifecycle: the store replays the loop a      //
  // curation pipeline actually runs — delete a contaminated doc, re-add  //
  // its cleaned version, overwrite live docs in place — with NO compact  //
  // anywhere, and must serve bit-identically to a from-scratch build on  //
  // the final corpus (the ES sink's `{"index": {_id}}` overwrite-by-id   //
  // semantics, elasticsearch_integration.py:403-409).                    //
  // -------------------------------------------------------------------- //

  /** Reindex-scenario predicates, mirrored in [[bm25TopkReindexedSql]]:
    * deleted = [[delPred]] (doc_id % 7 == 3); RE-ADDED = its odd half,
    * upserted back AFTER the delete with doubled text; UPDATED =
    * doc_id % 11 == 5 outside the deleted set, overwritten live with
    * doubled text. Doubling (`text || ' ' || text`) moves tf, dl,
    * avgdl and df all at once, so a stale generation anywhere in the
    * serving read shifts scores corpus-wide.
    */
  private val reAddPred = delPred && col("doc_id") % 2 === 1
  private val reUpdPred = col("doc_id") % 11 === 5 && !delPred

  private def doubledText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"), lit(" "), col("text")).as("text"))

  /** [[termIndexFor]]'s UPSERT twin: two-half build, delete every 7th
    * doc, then two upserts — generations 1 and 2 — re-adding the
    * deleted odd half and overwriting the %11 live slice, both with
    * doubled text. No compact: serving must subtract exactly the
    * superseded generations.
    */
  private val termIndexReixCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def termIndexReindexedFor(spark: SparkSession,
      sfDir: String): String =
    StoreUtil.cachedTempDir(termIndexReixCache, sfDir,
      "graft-termindex-reix") { dir =>
      // prefix-shared one level deeper: build + delete come verbatim
      // from the deleted fixture; only the two upserts are this
      // store's own history
      StoreUtil.copyRec(termIndexDeletedFor(spark, sfDir), dir)
      val docs = Tables(spark, sfDir, "documents")
        .select("doc_id", "text")
      TermIndex.upsert(spark, dir, doubledText(docs.filter(reAddPred)))
      TermIndex.upsert(spark, dir, doubledText(docs.filter(reUpdPred)))
    }

  /** [[termIndexReindexedFor]] COMPACTED: the superseded generations
    * and deleted docs physically fold out; serving runs the plain
    * no-tombstone path and must still match the same oracle
    * bit-for-bit (fold ≡ subtraction, the `docs_bm25_compacted`
    * discipline for upserts).
    */
  private val termIndexReixcCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def termIndexReindexCompactedFor(spark: SparkSession,
      sfDir: String): String =
    StoreUtil.cachedTempDir(termIndexReixcCache, sfDir,
      "graft-termindex-reixc") { dir =>
      // prefix-shared with the reindexed twin (StoreUtil.copyRec doc)
      StoreUtil.copyRec(termIndexReindexedFor(spark, sfDir), dir)
      TermIndex.compact(spark, dir)
    }

  /** BM25 from the store after the delete → re-add → overwrite loop —
    * gated against from-scratch BM25 on the post-upsert corpus (the
    * re-added docs must count ONCE with their new text; the
    * overwritten docs' old generations must stop influencing
    * n/avgdl/df entirely).
    */
  def bm25Reindexed(spark: SparkSession, sfDir: String): DataFrame =
    TermIndex.search(spark, termIndexReindexedFor(spark, sfDir),
      bmTerms, k = 20)

  /** The same search after [[TermIndex.compact]] folded the upsert
    * history out — zero tombstones, zero superseded rows left.
    */
  def bm25ReindexCompacted(spark: SparkSession, sfDir: String): DataFrame =
    TermIndex.search(spark, termIndexReindexCompactedFor(spark, sfDir),
      bmTerms, k = 20)

  /** The post-UPSERT oracle: from-scratch BM25 on the final corpus —
    * rows = NOT deleted OR re-added; text doubled for re-added and
    * updated docs (the same predicates [[termIndexReindexedFor]]
    * replays against the store).
    */
  private[operators] val reindexedCorpusSql: String =
    """SELECT doc_id,
      |  CASE WHEN (doc_id % 7 = 3 AND doc_id % 2 = 1)
      |         OR (doc_id % 11 = 5 AND doc_id % 7 <> 3)
      |       THEN text || ' ' || text ELSE text END AS text
      |FROM documents
      |WHERE NOT (doc_id % 7 = 3) OR doc_id % 2 = 1""".stripMargin

  val bm25TopkReindexedSql: String = bm25TopkSqlFrom(reindexedCorpusSql)

  // -------------------------------------------------------------------- //
  // Deterministic content-addressed train/val/test split: the hash of    //
  // the content decides the split, so re-runs, re-shards and engine      //
  // changes can never leak a document across splits.                     //
  // -------------------------------------------------------------------- //

  def hashSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .withColumn("h1", substring(sha2(col("text"), 256), 1, 1))
      .withColumn("split",
        when(col("h1").isin("c", "d"), "val")
          .when(col("h1").isin("e", "f"), "test")
          .otherwise("train"))
      .groupBy("split")
      .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
      .orderBy("split")

  val hashSplitSql: String =
    """SELECT CASE WHEN substr(sha256(text), 1, 1) IN ('c','d') THEN 'val'
      |            WHEN substr(sha256(text), 1, 1) IN ('e','f') THEN 'test'
      |            ELSE 'train' END AS split,
      |  count(*) AS n, CAST(sum(length(text)) AS BIGINT) AS chars
      |FROM documents GROUP BY split ORDER BY split""".stripMargin

  // -------------------------------------------------------------------- //
  // Sequence packing: assign documents to fixed token-budget bins by     //
  // cumulative token count (training-batch packing). The deterministic   //
  // offset-based rule (bin = start_offset div budget) is order-stable    //
  // and oracle-able, unlike greedy first-fit. The global-order window    //
  // is the parity shape; at 100 TB packing runs per shard/partition.    //
  // -------------------------------------------------------------------- //

  def tokenPacking(spark: SparkSession, sfDir: String): DataFrame = {
    // r17: the global running-sum window (single-partition sort of the
    // corpus) is replaced by [[rangedCumSumOn]] — one range exchange +
    // per-partition streaming sums + a ≤parts-row offsets collect
    // (guide §2); `cum` is value-identical because doc_id is a unique
    // total order and long addition is associative across the
    // partition bounds.
    val base = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr(s"size($toks)").cast("long").as("nt"))
    rangedCumSumOn(spark, base,
        parts = spark.sessionState.conf.numShufflePartitions,
        keys = Seq(col("doc_id")), value = col("nt"), cumCol = "cum")._1
      .withColumn("bin", expr("(cum - nt) div 2048"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("tokens"))
      .orderBy("bin")
  }

  val tokenPackingSql: String =
    s"""WITH c AS (
       |  SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS nt,
       |    sum(CAST(len($duckToks) AS BIGINT)) OVER (
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM documents)
       |SELECT CAST((cum - nt) // 2048 AS BIGINT) AS bin, count(*) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS tokens
       |FROM c GROUP BY bin ORDER BY bin""".stripMargin

  /** The per-pack SAMPLE MANIFEST a training loader actually consumes —
    * the half [[tokenPacking]]'s bin summary doesn't give: documents
    * concatenate in doc_id order and CUT at exact 2048-token pack
    * boundaries (causal-LM packing), and each pack lists its ordered
    * segments `(seg_idx, doc_id, doc_from, seg_len, pack_off)` — a doc
    * straddling a boundary contributes a segment to every pack it
    * touches (the GPT-style .idx artifact). Pure offset arithmetic on
    * the running token sum: doc with global span [s, e) intersects
    * packs `s div B .. (e−1) div B`, and each intersection is a
    * clamped interval — so the plan is ONE running-sum window + a
    * per-row explode bounded by ⌈nt/B⌉ + 1 segments per doc, + one
    * per-pack row_number. The global-order window is the parity shape;
    * at 100 TB the window partitions by shard exactly as
    * [[tokenPackingSharded]] demonstrates. PackSegmentsSpec pins the
    * tiling invariants (full packs hold exactly B tokens; each doc's
    * segments tile [0, nt) contiguously).
    */
  def packSegments(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 2048L
    val byPack = Window.partitionBy("pack_id").orderBy("doc_id")
    // r17: global running-sum window → [[rangedCumSumOn]] (same rewrite
    // and identical-output argument as [[tokenPacking]]); the per-pack
    // seg_idx window below stays — it is PARTITIONED (bounded state).
    val base = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr(s"size($toks)").cast("long").as("nt"))
    rangedCumSumOn(spark, base,
        parts = spark.sessionState.conf.numShufflePartitions,
        keys = Seq(col("doc_id")), value = col("nt"), cumCol = "e")._1
      .withColumn("s", col("e") - col("nt"))
      // nt > 0 guard BEFORE the explode (the byteHistogram discipline):
      // split() always yields ≥1 token today, but if any upstream ever
      // produced nt = 0 then s = e and `sequence(s div B, (e-1) div B)`
      // DESCENDS — two bogus segments — while the oracle's
      // generate_series returns empty: a silent cross-engine divergence.
      // A zero-width doc contributes 0 to every later cumsum, so
      // dropping it here changes no other row.
      .filter(col("nt") > 0)
      .select(col("doc_id"), col("nt"), col("s"),
        explode(expr(s"sequence(s div $B, (e - 1) div $B)"))
          .as("pack_id"))
      .select(col("pack_id"), col("doc_id"),
        greatest(lit(0L), col("pack_id") * B - col("s")).as("doc_from"),
        (least(col("nt"), (col("pack_id") + 1) * B - col("s")) -
          greatest(lit(0L), col("pack_id") * B - col("s")))
          .as("seg_len"),
        greatest(col("s") - col("pack_id") * B, lit(0L)).as("pack_off"))
      .withColumn("seg_idx", row_number().over(byPack).cast("long"))
      .select("pack_id", "seg_idx", "doc_id", "doc_from", "seg_len",
        "pack_off")
      .orderBy("pack_id", "seg_idx")
  }

  val packSegmentsSql: String =
    s"""WITH c AS (
       |  SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS nt,
       |    CAST(sum(CAST(len($duckToks) AS BIGINT)) OVER (
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS e
       |  FROM documents),
       |sp AS (SELECT doc_id, nt, e - nt AS s0, e FROM c),
       |seg AS (
       |  SELECT CAST(t.p AS BIGINT) AS pack_id, doc_id,
       |    greatest(0, t.p * 2048 - s0) AS doc_from,
       |    least(nt, (t.p + 1) * 2048 - s0)
       |      - greatest(0, t.p * 2048 - s0) AS seg_len,
       |    greatest(s0 - t.p * 2048, 0) AS pack_off
       |  FROM sp, LATERAL unnest(
       |    generate_series(s0 // 2048, (e - 1) // 2048)) AS t(p)
       |  WHERE nt > 0)
       |SELECT pack_id,
       |  CAST(row_number() OVER (PARTITION BY pack_id ORDER BY doc_id)
       |    AS BIGINT) AS seg_idx,
       |  doc_id, doc_from, seg_len, pack_off
       |FROM seg ORDER BY pack_id, seg_idx""".stripMargin

  /** The SHARDED form of sequence packing — the scale-safe variant the
    * global-window parity shape's scaladoc promises: documents hash into
    * 8 shards (`doc_id % 8`, deterministic in both engines), the
    * running-sum window partitions BY SHARD (one hash exchange, 1/8th of
    * the corpus per window state), and bins are local to their shard.
    * Packing quality is unchanged (each bin still fills to the budget);
    * only cross-shard bin numbering differs from the global form, which
    * no trainer depends on.
    */
  def tokenPackingSharded(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        expr(s"size($toks)").cast("long").as("nt"))
      .withColumn("cum", sum("nt").over(w))
      .withColumn("bin", expr("(cum - nt) div 2048"))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("tokens"))
      .orderBy("shard", "bin")
  }

  val tokenPackingShardedSql: String =
    s"""WITH c AS (
       |  SELECT doc_id, doc_id % 8 AS shard,
       |    CAST(len($duckToks) AS BIGINT) AS nt,
       |    sum(CAST(len($duckToks) AS BIGINT)) OVER (
       |      PARTITION BY doc_id % 8 ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM documents)
       |SELECT shard, CAST((cum - nt) // 2048 AS BIGINT) AS bin,
       |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS tokens
       |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin

  /** The SHARDED pack sample manifest — the loader-facing `.idx`
    * artifact ([[packSegments]]) in the form that actually runs at
    * 100 TB: documents hash into 8 shards (`doc_id % 8`, deterministic
    * in both engines), the running token sum and the segment cuts are
    * computed PER SHARD (the window partitions by shard — one hash
    * exchange, 1/8th of the corpus per window state, no global sort),
    * and pack ids are local to their shard. Each shard independently
    * satisfies every tiling invariant of the global form (full packs =
    * exactly 2048 tokens; a doc's segments tile [0, nt) contiguously;
    * per-pack offsets tile [0, B) — PackSegmentsPropertySpec pins all
    * three per shard), so a trainer consumes `8 × shard manifests`
    * instead of one global manifest — the only difference the global
    * parity shape had left. Same nt > 0 explode guard as the global
    * form.
    */
  def packSegmentsSharded(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 2048L
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byPack = Window.partitionBy("shard", "pack_id").orderBy("doc_id")
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        expr(s"size($toks)").cast("long").as("nt"))
      .withColumn("e", sum("nt").over(w))
      .withColumn("s", col("e") - col("nt"))
      .filter(col("nt") > 0)
      .select(col("shard"), col("doc_id"), col("nt"), col("s"),
        explode(expr(s"sequence(s div $B, (e - 1) div $B)"))
          .as("pack_id"))
      .select(col("shard"), col("pack_id"), col("doc_id"),
        greatest(lit(0L), col("pack_id") * B - col("s")).as("doc_from"),
        (least(col("nt"), (col("pack_id") + 1) * B - col("s")) -
          greatest(lit(0L), col("pack_id") * B - col("s")))
          .as("seg_len"),
        greatest(col("s") - col("pack_id") * B, lit(0L)).as("pack_off"))
      .withColumn("seg_idx", row_number().over(byPack).cast("long"))
      .select("shard", "pack_id", "seg_idx", "doc_id", "doc_from",
        "seg_len", "pack_off")
      .orderBy("shard", "pack_id", "seg_idx")
  }

  val packSegmentsShardedSql: String =
    s"""WITH c AS (
       |  SELECT doc_id, doc_id % 8 AS shard,
       |    CAST(len($duckToks) AS BIGINT) AS nt,
       |    CAST(sum(CAST(len($duckToks) AS BIGINT)) OVER (
       |      PARTITION BY doc_id % 8 ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS e
       |  FROM documents),
       |sp AS (SELECT shard, doc_id, nt, e - nt AS s0, e FROM c),
       |seg AS (
       |  SELECT shard, CAST(t.p AS BIGINT) AS pack_id, doc_id,
       |    greatest(0, t.p * 2048 - s0) AS doc_from,
       |    least(nt, (t.p + 1) * 2048 - s0)
       |      - greatest(0, t.p * 2048 - s0) AS seg_len,
       |    greatest(s0 - t.p * 2048, 0) AS pack_off
       |  FROM sp, LATERAL unnest(
       |    generate_series(s0 // 2048, (e - 1) // 2048)) AS t(p)
       |  WHERE nt > 0)
       |SELECT shard, pack_id,
       |  CAST(row_number() OVER (PARTITION BY shard, pack_id
       |    ORDER BY doc_id) AS BIGINT) AS seg_idx,
       |  doc_id, doc_from, seg_len, pack_off
       |FROM seg ORDER BY shard, pack_id, seg_idx""".stripMargin

  // -------------------------------------------------------------------- //
  // Decontamination: flag corpus documents sharing any 4-gram with the   //
  // eval/benchmark set (the standard n-gram-overlap test-set-leakage     //
  // check a training pipeline runs before every release). The eval set   //
  // here is carved from the corpus deterministically (doc_id % 101 = 0   //
  // ≙ "the benchmark"); at scale it is the real benchmark suite — a few  //
  // million n-grams, BROADCAST so the corpus side never shuffles: the    //
  // scan streams through a map-side hash semi-join, which is exactly     //
  // how a 100 TB decontamination pass stays one-pass.                    //
  // -------------------------------------------------------------------- //

  private def kgrams(k: Int): String =
    s"""CASE WHEN size($toks) >= $k THEN
       |  array_distinct(transform(sequence(1, size($toks) - ${k - 1}),
       |    i -> array_join(slice($toks, i, $k), ' ')))
       |ELSE cast(array() AS array<string>) END""".stripMargin

  private def duckKgrams(k: Int): String =
    s"""list_distinct(list_transform(generate_series(1, len($duckToks) - ${k - 1}),
       |  i -> array_to_string($duckToks[i:i+${k - 1}], ' ')))""".stripMargin

  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(expr(kgrams(4))).as("g"))
    val evalGrams = grams.filter(col("doc_id") % 101 === 0)
      .select("g").distinct()
    grams.filter(col("doc_id") % 101 =!= 0)
      .join(broadcast(evalGrams), Seq("g")) // map-side semi vs broadcast
      .groupBy("doc_id")
      // per-doc grams are already distinct → count = distinct overlaps
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  val decontaminateSql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, unnest(${duckKgrams(4)}) AS g FROM documents)
       |SELECT doc_id, count(*) AS n_shared
       |FROM grams
       |WHERE doc_id % 101 <> 0
       |  AND g IN (SELECT DISTINCT g FROM grams WHERE doc_id % 101 = 0)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------- //
  // PII scrubbing: redact emails/phones, count redactions, and hash the  //
  // scrubbed text (the hash makes the oracle verify the REDACTED BYTES,  //
  // not just the counts). The synthetic corpus has no PII, so a          //
  // deterministic injection (doc_id-keyed) gives the scrubber real work  //
  // in both engines. Patterns stay in the shared Java/RE2 regex subset.  //
  // Occurrences are counted as split-parts − 1 — identical semantics in  //
  // both engines, no regex-count builtin divergence. Per-row only: at    //
  // 100 TB this is a map-only pass, no shuffle at all.                   //
  // -------------------------------------------------------------------- //

  private val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phonePat = "555-[0-9]+"

  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .withColumn("txt", concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" call 555-"), (col("doc_id") % 10000).cast("string"),
            lit(" today"))).otherwise(lit(""))))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("txt"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>"))
      .select(
        col("doc_id"),
        (size(split(col("txt"), emailPat)) - 1).cast("long").as("n_emails"),
        (size(split(col("txt"), phonePat)) - 1).cast("long").as("n_phones"),
        sha2(col("scrubbed"), 256).as("scrub_hash"))
      .orderBy("doc_id")

  val piiScrubSql: String = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phone = "555-[0-9]+"
    s"""WITH t AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 7 = 0
       |            THEN ' contact user' || doc_id || '@example.com now'
       |            ELSE '' END
       |    || CASE WHEN doc_id % 13 = 0
       |            THEN ' call 555-' || (doc_id % 10000) || ' today'
       |            ELSE '' END AS txt
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(string_split_regex(txt, '$email')) - 1 AS BIGINT) AS n_emails,
       |  CAST(len(string_split_regex(txt, '$phone')) - 1 AS BIGINT) AS n_phones,
       |  sha256(regexp_replace(regexp_replace(txt, '$email', '<EMAIL>', 'g'),
       |                        '$phone', '<PHONE>', 'g')) AS scrub_hash
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------- //
  // Repetition quality filter (Gopher-style): fraction of duplicate      //
  // words and duplicate bigrams per document; high ratios flag           //
  // boilerplate/spam for removal before training. Per-row arithmetic on  //
  // identical operands in both engines → bit-identical doubles.          //
  // -------------------------------------------------------------------- //

  def repetitionFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        expr(s"size($toks)").cast("double").as("tw"),
        expr(s"size($dToks)").cast("double").as("dw"),
        expr(s"size(${kgrams(2)})").cast("double").as("d2"))
      .select(
        col("doc_id"),
        round(lit(1.0) - col("dw") / col("tw"), 4).as("dup_word_frac"),
        round(lit(1.0) - col("d2") / (col("tw") - 1), 4)
          .as("dup_bigram_frac"),
        repetitiousCol(col("d2"), col("tw")).as("repetitious"))
      .orderBy("doc_id")

  val repetitionFilterSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len($duckToks) AS DOUBLE) AS tw,
       |    CAST(len(list_distinct($duckToks)) AS DOUBLE) AS dw,
       |    CAST(len(${duckKgrams(2)}) AS DOUBLE) AS d2
       |  FROM documents)
       |SELECT doc_id,
       |  round(1.0 - dw / tw, 4) AS dup_word_frac,
       |  round(1.0 - d2 / (tw - 1), 4) AS dup_bigram_frac,
       |  (1.0 - d2 / (tw - 1)) > 0.5 AS repetitious
       |FROM t ORDER BY doc_id""".stripMargin


  // -------------------------------------------------------------------- //
  // Heavy-hitter n-grams: global top-20 word-3-grams by OCCURRENCE       //
  // count (corpus boilerplate detection — the list a pipeline feeds      //
  // back into dedup/quality rules). Occurrences, not the distinct        //
  // per-doc shingle sets MinHash uses. Scale shape: explode + hash agg   //
  // = map-side partial counts per gram, ONE shuffle of (gram, n)         //
  // partials, then a tiny global top-k — the textbook heavy-hitter       //
  // plan. (sequence guard: <3-token docs contribute nothing, both       //
  // engines.)                                                            //
  // -------------------------------------------------------------------- //

  def ngramTopk(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(explode(expr(occShingles)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(20)

  val ngramTopkSql: String =
    s"""SELECT gram, count(*) AS n FROM (
       |  SELECT unnest(list_transform(
       |    generate_series(1, len($duckToks) - 2),
       |    i -> array_to_string($duckToks[i:i+2], ' '))) AS gram
       |  FROM documents)
       |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin

  // -------------------------------------------------------------------- //
  // TF-IDF salient terms: top-5 terms per source by tf·ln(N/df). The     //
  // corpus-level df table is the only cross-source state; both          //
  // aggregations are map-side combinable and shuffle skinny (term, n)    //
  // partials; the per-source top-k is a window over small group counts.  //
  // ln parity Spark↔DuckDB is already proven by the BM25 gate. Scores    //
  // round to 4dp BEFORE ranking so rank can't hinge on the last ulp.     //
  // -------------------------------------------------------------------- //

  def tfidfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, sfDir, "documents")
    val terms = docs.select(col("doc_id"), col("source"),
        explode(expr(toks)).as("term"))
      .filter(length(col("term")) > 0)
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = terms.groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val dfreq = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("source")
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") * log(col("n_docs") / col("df")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("source"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("source"), col("score").desc, col("term"))
  }

  val tfidfTopkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, unnest($duckToks) AS term FROM documents),
       |tt AS (SELECT * FROM t WHERE length(term) > 0),
       |tf AS (SELECT source, term, count(*) AS tf FROM tt GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df
       |       FROM (SELECT DISTINCT doc_id, term FROM tt) GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
       |s AS (SELECT source, term, tf, df,
       |        round(tf * ln(n_docs / df), 4) AS score
       |      FROM tf JOIN df USING (term), n),
       |r AS (SELECT *, row_number() OVER (
       |        PARTITION BY source ORDER BY score DESC, term) AS rk
       |      FROM s)
       |SELECT source, term, tf, df, score FROM r WHERE rk <= 5
       |ORDER BY source, score DESC, term""".stripMargin

  // -------------------------------------------------------------------- //
  // Stratified deterministic sampling: per-source keep rates driven by   //
  // a content hash (the train-mix downsampling step — e.g. web crawl at  //
  // 25%, curated sources at 100%). Hash-threshold sampling is            //
  // reproducible across runs/engines and needs NO shuffle for the        //
  // filter itself (map-only); rates compare the first hex byte of        //
  // sha256(text) against a per-stratum threshold (fixed-width lowercase  //
  // hex compares lexicographically like the number it encodes;           //
  // 'zz' > 'ff' ≡ keep-all).                                             //
  // -------------------------------------------------------------------- //

  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .withColumn("thr", expr(
        """CASE try_cast(substring(source, 4) AS int) % 4
          |  WHEN 0 THEN 'zz' WHEN 1 THEN '80' WHEN 2 THEN '40'
          |  ELSE '20' END""".stripMargin))
      .withColumn("kept", substring(sha2(col("text"), 256), 1, 2) < col("thr"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), length(col("text")).cast("long"))
          .otherwise(0L)).as("kept_chars"))
      .orderBy("source")

  val stratifiedSampleSql: String =
    """WITH d AS (
      |  SELECT source, text,
      |    CASE TRY_CAST(substr(source, 4) AS INT) % 4
      |      WHEN 0 THEN 'zz' WHEN 1 THEN '80' WHEN 2 THEN '40'
      |      ELSE '20' END AS thr,
      |    substr(sha256(text), 1, 2) AS h
      |  FROM documents)
      |SELECT source, count(*) AS n_total,
      |  CAST(sum(CASE WHEN h < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN h < thr THEN length(text) ELSE 0 END) AS BIGINT)
      |    AS kept_chars
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------------------- //
  // Token-budget source mixing: the train-mix assembly step. Each source //
  // gets a token budget (60% of its own tokens here — in production the  //
  // per-source weights come from the mixture spec), docs are ranked by a //
  // deterministic content-independent hash (reproducible across runs and //
  // engines), and the prefix of that ranking that fits the budget is     //
  // taken. Output is the per-source audit row (all-integer).             //
  //                                                                      //
  // Scale (100 TB): both windows share ONE exchange on `source`. Source  //
  // is low-cardinality, so at real scale this exact shape would hot-spot //
  // one reducer per source; the scale variant computes per-source totals //
  // as a tiny broadcast agg and replaces the running-sum cutoff with a   //
  // hash-threshold cutoff calibrated from a sampled token CDF (the same  //
  // trick stratifiedSample uses) — map-only selection, no per-source     //
  // sort. The windowed form is the exact-parity shape.                   //
  // -------------------------------------------------------------------- //

  def sourceMixing(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy("source").orderBy("hk", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("source")
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        expr(s"size($toks)").as("n_tokens"),
        sha2(col("doc_id").cast("string"), 256).as("hk"))
      .withColumn("cum", sum("n_tokens").over(wCum))
      .withColumn("total_tokens", sum("n_tokens").over(wTot))
      .withColumn("token_budget", expr("(total_tokens * 6) div 10"))
      .filter(col("cum") <= col("token_budget"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs_taken"),
        sum("n_tokens").as("tokens_taken"),
        max("token_budget").as("token_budget"))
      .orderBy("source")
  }

  val sourceMixingSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, source, len($duckToks) AS n_tokens,
       |    sha256(doc_id::VARCHAR) AS hk
       |  FROM documents),
       |w AS (
       |  SELECT source, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY hk, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |    CAST((sum(n_tokens) OVER (PARTITION BY source)) * 6 // 10
       |      AS BIGINT) AS token_budget
       |  FROM b)
       |SELECT source, count(*) AS docs_taken,
       |  CAST(sum(n_tokens) AS BIGINT) AS tokens_taken,
       |  max(token_budget) AS token_budget
       |FROM w WHERE cum <= token_budget
       |GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------------------- //
  // Temperature-weighted language rebalancing — the multilingual-corpus  //
  // counterpart of sourceMixing: sampling rates follow p_l ∝ c_l^α with  //
  // α = 0.5 (the "temperature" of Conneau & Lample's XLM mixing), so    //
  // rare languages are upsampled RELATIVE to their share while the       //
  // overall take stays at 60%. Selection is content-hashed (the same     //
  // 28-bit sha256 base as MinHash), so membership is deterministic,      //
  // engine-independent, and stable under re-sharding. α=0.5 means the    //
  // per-language rate is ∝ 1/sqrt(c_l) — sqrt is IEEE-exact, keeping     //
  // the rate computation bit-identical across engines (a pow() would     //
  // not be). Scale shape: the rate table is |languages| rows broadcast   //
  // against the corpus; the take is one map-side filter + one grouped    //
  // count.                                                               //
  // -------------------------------------------------------------------- //

  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        (conv(substring(sha2(col("text"), 256), 1, 7), 16, 10)
          .cast("long") / lit(268435456.0)).as("u"))
    val c = d.groupBy("lang").agg(count(lit(1)).cast("double").as("cl"))
    val tot = c.agg(sum(sqrt(col("cl"))).as("sw"), sum(col("cl")).as("n"))
    val rates = c.crossJoin(broadcast(tot))
      .withColumn("rate", least(lit(1.0),
        round(lit(0.6) * col("n") * (sqrt(col("cl")) / col("sw")) /
          col("cl"), 6)))
      .select("lang", "cl", "rate")
    d.join(broadcast(rates), "lang")
      .filter(col("u") < col("rate"))
      .groupBy("lang")
      .agg(count(lit(1)).as("kept"), max(col("rate")).as("rate"),
        max(col("cl")).cast("long").as("total"))
      .orderBy("lang")
  }

  val temperatureMixSql: String =
    """WITH c AS (
      |  SELECT lang, CAST(count(*) AS DOUBLE) AS cl
      |  FROM documents GROUP BY lang),
      |t AS (SELECT sum(sqrt(cl)) AS sw, sum(cl) AS n FROM c),
      |r AS (
      |  SELECT lang, cl,
      |    least(1.0, round(0.6 * n * (sqrt(cl) / sw) / cl, 6)) AS rate
      |  FROM c, t),
      |k AS (
      |  SELECT d.lang, count(*) AS kept
      |  FROM documents d JOIN r ON d.lang = r.lang
      |  WHERE CAST('0x' || substr(sha256(d.text), 1, 7) AS BIGINT)
      |    / 268435456.0 < r.rate
      |  GROUP BY d.lang)
      |SELECT r.lang, k.kept, r.rate, CAST(r.cl AS BIGINT) AS total
      |FROM r JOIN k ON r.lang = k.lang
      |ORDER BY r.lang""".stripMargin

  // -------------------------------------------------------------------- //
  // Epoch / repetition budget planner (the Muennighoff et al. 2023       //
  // "Scaling Data-Constrained Language Models", arXiv:2305.16264, mix    //
  // table): given a total token budget (3× the corpus here — the        //
  // data-constrained regime where repetition is forced) and α=0.5        //
  // temperature weights over sources, emit per source how many tokens    //
  // it is asked to contribute, how many EPOCHS of its unique data that   //
  // implies, and the repetition excess past one epoch — the artifact a  //
  // pretraining run plans its sampler from. sqrt (IEEE-exact) keeps the  //
  // weights engine-identical (the temperatureMix discipline), epochs     //
  // divide two integers, and no exp()-decay effective-token column is    //
  // emitted because libm parity across engines is not guaranteed.        //
  // Scale shape: ONE grouped token sum (map-side combinable) to          //
  // |sources| rows, a 1-row total broadcast back — nothing else.         //
  // -------------------------------------------------------------------- //

  def epochPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "documents")
      .select(col("source"), expr(s"size($toks)").cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("avail_tokens"))
    val tot = c.agg(
      sum(sqrt(col("avail_tokens").cast("double"))).as("sw"),
      sum("avail_tokens").as("n"))
    c.crossJoin(broadcast(tot))
      .withColumn("share",
        round(sqrt(col("avail_tokens").cast("double")) / col("sw"), 6))
      .withColumn("target_tokens",
        floor(lit(3.0) * col("n").cast("double") *
          sqrt(col("avail_tokens").cast("double")) / col("sw"))
          .cast("long"))
      .withColumn("epochs",
        round(col("target_tokens").cast("double") /
          col("avail_tokens").cast("double"), 4))
      .withColumn("repeat_excess",
        round(greatest(lit(0.0), col("epochs") - lit(1.0)), 4))
      .select("source", "avail_tokens", "share", "target_tokens",
        "epochs", "repeat_excess")
      .orderBy("source")
  }

  val epochPlanSql: String =
    s"""WITH c AS (
       |  SELECT source, CAST(sum(len($duckToks)) AS BIGINT)
       |    AS avail_tokens
       |  FROM documents GROUP BY source),
       |t AS (
       |  SELECT sum(sqrt(CAST(avail_tokens AS DOUBLE))) AS sw,
       |    CAST(sum(avail_tokens) AS BIGINT) AS n
       |  FROM c),
       |p AS (
       |  SELECT source, avail_tokens,
       |    round(sqrt(CAST(avail_tokens AS DOUBLE)) / sw, 6) AS share,
       |    CAST(floor(3.0 * n * sqrt(CAST(avail_tokens AS DOUBLE)) / sw)
       |      AS BIGINT) AS target_tokens
       |  FROM c, t)
       |SELECT source, avail_tokens, share, target_tokens,
       |  round(CAST(target_tokens AS DOUBLE) / avail_tokens, 4) AS epochs,
       |  round(greatest(0.0,
       |    round(CAST(target_tokens AS DOUBLE) / avail_tokens, 4) - 1.0),
       |    4) AS repeat_excess
       |FROM p ORDER BY source""".stripMargin

  // -------------------------------------------------------------------- //
  // Cross-document duplicated spans (Lee et al. 2022, "Deduplicating     //
  // Training Data Makes Language Models Better", arXiv:2107.06499 —      //
  // window-granular approximation of the suffix-array pass): every       //
  // 8-token window is hashed; windows occurring in ≥2 DISTINCT docs are  //
  // the repeated spans a dedup pass would cut. Explode + hash agg =      //
  // map-side partial counts, one shuffle of (hash, partial) — the same   //
  // heavy-hitter plan as ngramTopk, so it scales the same way. The       //
  // sequence guard keeps <8-token docs contributing nothing in BOTH      //
  // engines (Spark's sequence() descends below 1).                       //
  // -------------------------------------------------------------------- //

  private val spanToks = 8
  /** Report/scrub floor for maximal duplicated substrings (tokens) —
    * shared by [[exactSubstrings]] and [[spanScrubMinLen]]. */
  private val substrMinLen = 16
  /** Anchor-gram total-occurrence cap bounding pair-join fanout —
    * part of [[exactSubstrings]]' semantics, mirrored in its oracle. */
  private val anchorOccCap = 128
  private val spans =
    s"""CASE WHEN size($toks) >= $spanToks THEN
       |  transform(sequence(1, size($toks) - ${spanToks - 1}),
       |    i -> array_join(slice($toks, i, $spanToks), ' '))
       |ELSE cast(array() AS array<string>) END""".stripMargin
  private val duckSpans =
    s"""list_transform(generate_series(1, len($duckToks) - ${spanToks - 1}),
       |  i -> array_to_string($duckToks[i:i+${spanToks - 1}], ' '))""".stripMargin

  def dupSpans(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(expr(spans)).as("gram"))
      .withColumn("gram_hash", sha2(col("gram"), 256))
      .groupBy("gram_hash")
      .agg(min("gram").as("gram"),
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"),
        min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)
      .select("gram_hash", "gram", "n_docs", "n_occ", "first_doc")
      .orderBy("gram_hash")

  val dupSpansSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, unnest($duckSpans) AS gram FROM documents),
       |h AS (SELECT doc_id, gram, sha256(gram) AS gram_hash FROM g)
       |SELECT gram_hash, min(gram) AS gram,
       |  count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
       |  min(doc_id) AS first_doc
       |FROM h GROUP BY gram_hash HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY gram_hash""".stripMargin

  /** Exact-substring SCRUB at span granularity — the removal step the
    * detection query [[dupSpans]] feeds (C4's "drop duplicated spans,
    * keep one" / RefinedWeb's exact-substring dedup, reshaped for
    * determinism): every occurrence of a cross-document duplicated
    * 8-token span is scrubbed EXCEPT the corpus-wide first one (min
    * (doc_id, start) — a total order, so the kept copy is
    * engine-independent), and each document reports how many of its
    * tokens survived plus a hash of the scrubbed text (position-ordered
    * join, so the hash pins the exact surviving token sequence, not
    * just a count).
    *
    * Scale shape: one gram-hash shuffle for the duplicate set + winner
    * (map-side combinable), one explode of ONLY the scrubbed
    * occurrences into covered positions (∝ duplicated volume, not the
    * corpus), one anti-join per token — no all-pairs anything.
    */
  /** (doc_id, tpos) token positions covered by SCRUBBED (non-first)
    * duplicate-span occurrences — the shared core of the scrub query
    * and the maximal-region report: detection + winner on one gram-hash
    * shuffle, then an explode ∝ duplicated volume only.
    */
  private def scrubbedCover(docs: DataFrame): DataFrame = {
    // gram key shuffled as 32-byte BINARY (unhex) instead of the 64-char
    // hex string — hex is injective, so grouping/joining on the raw
    // digest is value-identical and halves the two gram-key exchanges
    // (guide §2.3 "narrower types"); the hex form never reaches the
    // output.
    val occ = docs
      .select(col("doc_id"), posexplode(expr(spans)).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("start"),
        unhex(sha2(col("gram"), 256)).as("gram_hash"))
    // "appears in ≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id) — an
    // exact rewrite that drops the countDistinct's Expand (which doubled
    // every row through the gram exchange) for two plain min/max
    // partials (guide §2.3 "aggregate before you shuffle").
    val byGram = occ.groupBy("gram_hash")
      .agg(min(col("doc_id")).as("d_min"), max(col("doc_id")).as("d_max"),
        min(struct(col("doc_id"), col("start"))).as("keep"))
      .filter(col("d_min") =!= col("d_max"))
      .select(col("gram_hash"), col("keep.doc_id").as("k_doc"),
        col("keep.start").as("k_start"))
    occ.join(byGram, Seq("gram_hash"))
      .filter(col("doc_id") =!= col("k_doc") ||
        col("start") =!= col("k_start"))
      .select(col("doc_id"),
        explode(expr(s"sequence(start, start + ${spanToks - 1})"))
          .as("tpos"))
      .distinct()
  }

  /** The scrub REPORT tail shared by both scrub policies: anti-join
    * each document's tokens against a (doc_id, tpos) covered set, emit
    * per-doc survivor count + position-ordered survivor hash. One
    * definition — the window-granular and min-length policies must
    * never drift in how they count or hash survivors.
    */
  private def scrubReport(docs: DataFrame,
      covered: DataFrame): DataFrame = {
    val tokens = docs
      .select(col("doc_id"), posexplode(expr(toks)).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("tpos"), col("tok"))
    val kept = tokens.join(covered, Seq("doc_id", "tpos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        sha2(expr("array_join(transform(array_sort(" +
          "collect_list(struct(tpos, tok))), x -> x.tok), ' ')"), 256)
          .as("kept_hash"))
    docs.select(col("doc_id"), expr(s"size($toks)").cast("long")
        .as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_scrubbed"),
        coalesce(col("kept_hash"),
          sha2(lit(""), 256)).as("kept_hash"))
      .orderBy("doc_id")
  }

  def spanScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    scrubReport(docs, scrubbedCover(docs))
  }

  /** The occ→dup→scrub→covered CTE chain shared by the scrub oracle
    * and the maximal-region oracle. */
  private def scrubCoverCtes: String =
    s"""occ AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS start,
       |    sha256(array_to_string($duckToks[u.i:u.i+${spanToks - 1}], ' '))
       |      AS gram_hash
       |  FROM documents, LATERAL unnest(
       |    generate_series(1, len($duckToks) - ${spanToks - 1})) AS u(i)),
       |dup AS (
       |  SELECT gram_hash FROM occ GROUP BY gram_hash
       |  HAVING count(DISTINCT doc_id) >= 2),
       |scrub AS (
       |  SELECT doc_id, start FROM (
       |    SELECT o.doc_id, o.start,
       |      row_number() OVER (PARTITION BY o.gram_hash
       |        ORDER BY o.doc_id, o.start) AS rk
       |    FROM occ o JOIN dup USING (gram_hash))
       |  WHERE rk > 1),
       |covered AS (
       |  SELECT DISTINCT s.doc_id, CAST(c.tpos AS BIGINT) AS tpos
       |  FROM scrub s, LATERAL unnest(
       |    generate_series(s.start, s.start + ${spanToks - 1})) AS c(tpos))"""
      .stripMargin

  val spanScrubSql: String =
    s"""WITH $scrubCoverCtes,
       |toks AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS tpos, $duckToks[u.i] AS tok
       |  FROM documents, LATERAL unnest(
       |    generate_series(1, len($duckToks))) AS u(i)),
       |kept AS (
       |  SELECT t.doc_id, count(*) AS n_kept,
       |    sha256(string_agg(t.tok, ' ' ORDER BY t.tpos)) AS kept_hash
       |  FROM toks t LEFT JOIN covered c
       |    ON t.doc_id = c.doc_id AND t.tpos = c.tpos
       |  WHERE c.doc_id IS NULL
       |  GROUP BY t.doc_id)
       |SELECT d.doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens,
       |  CAST(len($duckToks) - COALESCE(k.n_kept, 0) AS BIGINT)
       |    AS n_scrubbed,
       |  COALESCE(k.kept_hash, sha256('')) AS kept_hash
       |FROM documents d LEFT JOIN kept k USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** The Lee et al. 2021 scrub POLICY proper — remove only LONG
    * duplicated regions: published exact-substring dedup cuts maximal
    * duplicated substrings ≥ L tokens and deliberately KEEPS incidental
    * short matches (cutting every shared 8-gram, as [[spanScrub]]'s
    * window-granular form does, over-scrubs idioms and boilerplate
    * fragments a model should still see). Positions scrub only when
    * their maximal covered island reaches [[substrMinLen]] tokens —
    * the [[dupRegions]] gaps-and-islands frame with a length gate,
    * feeding the same [[scrubReport]] tail as the window-granular
    * policy so the two reports can never drift in survivor accounting.
    * Rows ∝ duplicated volume throughout; the corpus re-enters only
    * for the final per-token anti-join.
    */
  def spanScrubMinLen(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, sfDir, "documents")
    val w = Window.partitionBy("doc_id").orderBy("tpos")
    val wg = Window.partitionBy("doc_id", "grp")
    val covered = scrubbedCover(docs)
      .withColumn("grp", col("tpos") - row_number().over(w))
      .withColumn("rl", count(lit(1)).over(wg))
      .filter(col("rl") >= substrMinLen)
      .select("doc_id", "tpos")
    scrubReport(docs, covered)
  }

  val spanScrubMinLenSql: String =
    s"""WITH $scrubCoverCtes,
       |isl AS (
       |  SELECT doc_id, tpos,
       |    tpos - row_number() OVER (PARTITION BY doc_id ORDER BY tpos)
       |      AS grp
       |  FROM covered),
       |cov16 AS (
       |  SELECT doc_id, tpos FROM (
       |    SELECT doc_id, tpos,
       |      count(*) OVER (PARTITION BY doc_id, grp) AS rl
       |    FROM isl)
       |  WHERE rl >= $substrMinLen),
       |toks AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS tpos, $duckToks[u.i] AS tok
       |  FROM documents, LATERAL unnest(
       |    generate_series(1, len($duckToks))) AS u(i)),
       |kept AS (
       |  SELECT t.doc_id, count(*) AS n_kept,
       |    sha256(string_agg(t.tok, ' ' ORDER BY t.tpos)) AS kept_hash
       |  FROM toks t LEFT JOIN cov16 c
       |    ON t.doc_id = c.doc_id AND t.tpos = c.tpos
       |  WHERE c.doc_id IS NULL
       |  GROUP BY t.doc_id)
       |SELECT d.doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens,
       |  CAST(len($duckToks) - COALESCE(k.n_kept, 0) AS BIGINT)
       |    AS n_scrubbed,
       |  COALESCE(k.kept_hash, sha256('')) AS kept_hash
       |FROM documents d LEFT JOIN kept k USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** MAXIMAL duplicated regions per document — the artifact a dedup
    * report ships beside the per-token scrub count: overlapping and
    * adjacent scrubbed 8-token spans merged into contiguous
    * [start, end] token intervals (so "how long is the longest
    * boilerplate block in this doc", not "how many 8-gram windows
    * matched"). Classic gaps-and-islands over [[scrubbedCover]]'s
    * position set: island key = tpos − row_number within the doc, one
    * window + one groupBy over rows ∝ duplicated volume only — the
    * corpus never re-enters after the shared cover computation.
    */
  def dupRegions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("tpos")
    scrubbedCover(Tables(spark, sfDir, "documents"))
      .withColumn("grp", col("tpos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min("tpos").cast("long").as("region_start"),
        max("tpos").cast("long").as("region_end"),
        count(lit(1)).as("region_len"))
      .select("doc_id", "region_start", "region_end", "region_len")
      .orderBy("doc_id", "region_start")
  }

  val dupRegionsSql: String =
    s"""WITH $scrubCoverCtes,
       |isl AS (
       |  SELECT doc_id, tpos,
       |    tpos - row_number() OVER (PARTITION BY doc_id ORDER BY tpos)
       |      AS grp
       |  FROM covered)
       |SELECT doc_id, min(tpos) AS region_start, max(tpos) AS region_end,
       |  CAST(count(*) AS BIGINT) AS region_len
       |FROM isl GROUP BY doc_id, grp
       |ORDER BY doc_id, region_start""".stripMargin

  // -------------------------------------------------------------------- //
  // MAXIMAL exact shared substrings per document PAIR (the Lee et al.    //
  // 2021 arXiv:2107.06499 dedup unit proper — "remove maximal exact      //
  // substrings ≥ L tokens", which [[dupSpans]]/[[dupRegions]]            //
  // approximate at window granularity): anchor k-grams + island          //
  // extension instead of a suffix array. A shared substring of n ≥ 8    //
  // tokens between two docs is EXACTLY a maximal run of n−7 aligned     //
  // consecutive shared 8-grams on one (doc_a, doc_b) DIAGONAL           //
  // (start_a − start_b constant), so gaps-and-islands over the anchor   //
  // pair frame keyed by (pair, diagonal) reconstructs every maximal     //
  // substring and its exact length — no suffix array needed.            //
  //                                                                      //
  // Scale shape: the anchor join costs Σ_g occ(g)² — ∝ duplicated       //
  // volume squared PER GRAM, never corpus all-pairs — and the anchor    //
  // frequency cap (occurrences ≤ 128, part of the operator's semantics  //
  // and mirrored in the oracle) bounds any heavy-hitter gram's fanout;  //
  // ubiquitous-boilerplate grams beyond the cap are the regime the      //
  // winnowing-coverage and containment operators already serve.         //
  // -------------------------------------------------------------------- //

  def exactSubstrings(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), posexplode(expr(spans)).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("start"),
        sha2(col("gram"), 256).as("gh"))
    // anchors: grams shared by ≥2 docs, bounded total frequency
    val dup = occ.groupBy("gh")
      .agg(countDistinct("doc_id").as("nd"), count(lit(1)).as("no"))
      .filter(col("nd") >= 2 && col("no") <= anchorOccCap)
      .select("gh")
    val a = occ.join(dup, Seq("gh"))
    val pairs = a.select(col("gh"), col("doc_id").as("doc_a"),
        col("start").as("sa"))
      .join(a.select(col("gh"), col("doc_id").as("doc_b"),
        col("start").as("sb")), Seq("gh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sa", "sb")
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("sa")
    pairs.withColumn("diag", col("sa") - col("sb"))
      .withColumn("grp", col("sa") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(min("sa").as("a_start"), min("sb").as("b_start"),
        (count(lit(1)) + lit(spanToks - 1L)).as("len"))
      .filter(col("len") >= substrMinLen)
      .select("doc_a", "doc_b", "a_start", "b_start", "len")
      .orderBy("doc_a", "doc_b", "a_start", "b_start")
  }

  val exactSubstringsSql: String =
    s"""WITH occ AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS start,
       |    sha256(array_to_string($duckToks[u.i:u.i+${spanToks - 1}], ' '))
       |      AS gh
       |  FROM documents, LATERAL unnest(
       |    generate_series(1, len($duckToks) - ${spanToks - 1})) AS u(i)),
       |dup AS (
       |  SELECT gh FROM occ GROUP BY gh
       |  HAVING count(DISTINCT doc_id) >= 2 AND count(*) <= $anchorOccCap),
       |a AS (SELECT o.doc_id, o.start, o.gh FROM occ o JOIN dup USING (gh)),
       |p AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.start AS sa, y.start AS sb
       |  FROM a x JOIN a y ON x.gh = y.gh AND x.doc_id < y.doc_id),
       |isl AS (
       |  SELECT doc_a, doc_b, sa - sb AS diag, sa, sb,
       |    sa - row_number() OVER (PARTITION BY doc_a, doc_b, sa - sb
       |      ORDER BY sa) AS grp
       |  FROM p)
       |SELECT doc_a, doc_b, min(sa) AS a_start, min(sb) AS b_start,
       |  CAST(count(*) + ${spanToks - 1} AS BIGINT) AS len
       |FROM isl GROUP BY doc_a, doc_b, diag, grp
       |HAVING count(*) + ${spanToks - 1} >= $substrMinLen
       |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin

  // -------------------------------------------------------------------- //
  // N-gram LM familiarity (the CCNet-style LM quality filter,            //
  // arXiv:1911.00359, reshaped for cross-engine determinism): train      //
  // char-trigram counts on the lang='en' slice, then score every doc by  //
  // how familiar its trigrams are to that model — integer count sums and //
  // an OOV ratio instead of log-probabilities, because float log-sums    //
  // over a shuffled explode are partition-order dependent (and libm log  //
  // parity across engines is not guaranteed), while INTEGER sums commute //
  // bit-exactly. Ratios divide once at the end and round.                //
  //                                                                      //
  // Scale (100 TB): the trigram count table is the only cross-doc state  //
  // — heavy-hitter counts, map-side combinable, and the scored join      //
  // broadcasts it (a char-trigram vocabulary is bounded ~levels^3, and   //
  // in production the model table is capped top-K counts anyway).        //
  // -------------------------------------------------------------------- //

  private val chTris =
    """CASE WHEN length(text) >= 3 THEN
      |  transform(sequence(1, length(text) - 2), i -> substr(text, i, 3))
      |ELSE cast(array() AS array<string>) END""".stripMargin
  private val duckChTris =
    "list_transform(generate_series(1, length(text) - 2), i -> substr(text, i, 3))"

  /** The shared familiarity scoring core — per-doc trigram counts
    * against the en-trained model, carrying `extraKey` (lang for the
    * standalone query, source for the CCNet bucketing) through the
    * per-doc aggregate. One formula, two queries, zero drift (the
    * [[qualityCol]] discipline).
    */
  private def familiarityCounts(docs: DataFrame,
      extraKey: String): DataFrame = {
    val model = docs.filter(col("lang") === "en")
      .select(explode(expr(chTris)).as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("cnt"))
    docs.select(col("doc_id"), col(extraKey), explode(expr(chTris)).as("tri"))
      .join(broadcast(model), Seq("tri"), "left")
      .groupBy("doc_id", extraKey)
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("cnt").isNotNull, 1L).otherwise(0L)).as("seen_tri"),
        sum(coalesce(col("cnt"), lit(0L))).as("sum_cnt"))
      .withColumn("familiarity",
        round(col("sum_cnt").cast("double") / col("n_tri"), 4))
  }

  def lmFamiliarity(spark: SparkSession, sfDir: String): DataFrame =
    familiarityCounts(Tables(spark, sfDir, "documents"), "lang")
      .withColumn("oov_ratio",
        round((col("n_tri") - col("seen_tri")).cast("double") / col("n_tri"), 4))
      .select("doc_id", "lang", "n_tri", "seen_tri", "sum_cnt",
        "familiarity", "oov_ratio")
      .orderBy("doc_id")

  val lmFamiliaritySql: String =
    s"""WITH m AS (
       |  SELECT tri, count(*) AS cnt FROM (
       |    SELECT unnest($duckChTris) AS tri
       |    FROM documents WHERE lang = 'en')
       |  GROUP BY tri),
       |t AS (
       |  SELECT doc_id, lang, unnest($duckChTris) AS tri FROM documents),
       |s AS (
       |  SELECT doc_id, lang, count(*) AS n_tri,
       |    CAST(sum(CASE WHEN cnt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS seen_tri,
       |    CAST(sum(coalesce(cnt, 0)) AS BIGINT) AS sum_cnt
       |  FROM t LEFT JOIN m USING (tri)
       |  GROUP BY doc_id, lang)
       |SELECT doc_id, lang, n_tri, seen_tri, sum_cnt,
       |  round(CAST(sum_cnt AS DOUBLE) / n_tri, 4) AS familiarity,
       |  round(CAST(n_tri - seen_tri AS DOUBLE) / n_tri, 4) AS oov_ratio
       |FROM s ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------- //
  // CCNet head/middle/tail buckets (arXiv:1911.00359 §4.3): CCNet does   //
  // not THRESHOLD on the LM score, it PARTITIONS each source into        //
  // terciles and lets the mixture spec draw from "head" (most            //
  // model-like) down — the partition is the selection artifact a        //
  // curation run ships. Here the score is lmFamiliarity's (higher =      //
  // more familiar = CCNet's lower perplexity, so familiarity >= q67 is   //
  // "head"), terciles are per-SOURCE so every source contributes its     //
  // own best slice regardless of absolute quality.                       //
  //                                                                      //
  // Scale (100 TB): the scored slim projection is checkpointed before    //
  // fanning into its two legs (the per-source exact percentile — ≤ 10⁴   //
  // distinct rounded scores per source, bounded buffer — and the probe   //
  // side of the broadcast cut join), so the trigram explode runs ONCE;   //
  // the cut table is |sources| rows broadcast.                           //
  // -------------------------------------------------------------------- //

  def pplBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = familiarityCounts(Tables(spark, sfDir, "documents"),
        "source")
      .select("doc_id", "source", "familiarity")
      .localCheckpoint(true)
    val cuts = scored.groupBy("source").agg(
      round(expr("percentile(familiarity, 0.33)"), 4).as("q33"),
      round(expr("percentile(familiarity, 0.67)"), 4).as("q67"))
    scored.join(broadcast(cuts), "source")
      .withColumn("bucket",
        when(col("familiarity") >= col("q67"), lit("head"))
          .when(col("familiarity") >= col("q33"), lit("middle"))
          .otherwise(lit("tail")))
      .select("source", "doc_id", "familiarity", "bucket")
      .orderBy("source", "doc_id")
  }

  val pplBucketsSql: String =
    s"""WITH m AS (
       |  SELECT tri, count(*) AS cnt FROM (
       |    SELECT unnest($duckChTris) AS tri
       |    FROM documents WHERE lang = 'en')
       |  GROUP BY tri),
       |t AS (
       |  SELECT doc_id, source, unnest($duckChTris) AS tri FROM documents),
       |sc AS (
       |  SELECT doc_id, source,
       |    round(CAST(sum(coalesce(cnt, 0)) AS DOUBLE) / count(*), 4)
       |      AS familiarity
       |  FROM t LEFT JOIN m USING (tri)
       |  GROUP BY doc_id, source),
       |c AS (
       |  SELECT source,
       |    round(quantile_cont(familiarity, 0.33), 4) AS q33,
       |    round(quantile_cont(familiarity, 0.67), 4) AS q67
       |  FROM sc GROUP BY source)
       |SELECT source, doc_id, familiarity,
       |  CASE WHEN familiarity >= q67 THEN 'head'
       |       WHEN familiarity >= q33 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM sc JOIN c USING (source)
       |ORDER BY source, doc_id""".stripMargin

  // -------------------------------------------------------------------- //
  // Per-source distribution drift: KL(source ‖ corpus) over char-trigram //
  // distributions — the corpus-monitoring row that flags a source whose  //
  // text stopped looking like the rest (encoding glitch, scraper drift,  //
  // language shift) before any per-doc filter would. All counts are      //
  // integers; each KL term divides and logs exact integer ratios, so the //
  // only cross-engine variance is float sum order over a trigram-vocab-  //
  // bounded term set (~alphabet³) — round(·,4) absorbs it (the TF-IDF /  //
  // BM25 precedent).                                                     //
  //                                                                      //
  // Scale (100 TB): ONE map-side-combinable (source, tri) count is the   //
  // only corpus-width work (key cardinality |sources|·|alphabet|³); the  //
  // marginals derive from it — checkpointed so the explode runs once —   //
  // and join back broadcast. Output is |sources| rows.                   //
  // -------------------------------------------------------------------- //

  def sourceKl(spark: SparkSession, sfDir: String): DataFrame = {
    val st = Tables(spark, sfDir, "documents")
      .select(col("source"), explode(expr(chTris)).as("tri"))
      .groupBy("source", "tri").agg(count(lit(1)).as("n_st"))
      .localCheckpoint(true)
    val byTri = st.groupBy("tri").agg(sum("n_st").as("n_t"))
    val bySrc = st.groupBy("source").agg(sum("n_st").as("n_s"))
    val total = st.agg(sum("n_st").as("n"))
    val pS = col("n_st").cast("double") / col("n_s").cast("double")
    val pC = col("n_t").cast("double") / col("n").cast("double")
    st.join(broadcast(byTri), "tri")
      .join(broadcast(bySrc), "source")
      .crossJoin(broadcast(total))
      .groupBy("source")
      .agg(max("n_s").as("n_tris"),
        count(lit(1)).as("n_distinct_tris"),
        round(sum(pS * log(pS / pC)), 4).as("kl_nats"))
      .orderBy("source")
  }

  val sourceKlSql: String =
    s"""WITH st AS (
       |  SELECT source, tri, count(*) AS n_st FROM (
       |    SELECT source, unnest($duckChTris) AS tri FROM documents)
       |  GROUP BY source, tri),
       |bt AS (SELECT tri, CAST(sum(n_st) AS BIGINT) AS n_t
       |       FROM st GROUP BY tri),
       |bs AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s
       |       FROM st GROUP BY source),
       |tt AS (SELECT CAST(sum(n_st) AS BIGINT) AS n FROM st)
       |SELECT st.source, max(n_s) AS n_tris,
       |  count(*) AS n_distinct_tris,
       |  round(sum((CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE))
       |    * ln((CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE))
       |        / (CAST(n_t AS DOUBLE) / CAST(n AS DOUBLE)))), 4)
       |    AS kl_nats
       |FROM st JOIN bt USING (tri) JOIN bs USING (source), tt
       |GROUP BY st.source ORDER BY st.source""".stripMargin

  // -------------------------------------------------------------------- //
  // Cross-source contamination matrix: how many distinct text identities //
  // (dedupExact's 8-token-prefix sha256) appear in BOTH sources of each  //
  // pair — the artifact that decides whether two "independent" crawls    //
  // can be mixed at full weight or must be deduped jointly first.        //
  //                                                                      //
  // Scale (100 TB): one (source, hash) distinct — a hash-partitioned    //
  // exchange ∝ corpus — then a self equi-join ON THE HASH whose output   //
  // per key is |sources(h)|² ≤ |sources|², bounded by source cardinality //
  // (never a doc-level pairing); the matrix is ≤ |sources|²/2 rows.      //
  // -------------------------------------------------------------------- //

  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val h = Tables(spark, sfDir, "documents")
      .select(col("source"),
        textIdHash.as("text_hash"))
      .distinct()
      .localCheckpoint(true)
    val b = h.select(col("text_hash"), col("source").as("source_b"))
    h.select(col("text_hash"), col("source").as("source_a"))
      .join(b, "text_hash")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_texts"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSql: String =
    s"""WITH h AS (
       |  SELECT DISTINCT source,
       |    $duckTextIdHash AS text_hash
       |  FROM documents)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  count(*) AS shared_texts
       |FROM h a JOIN h b USING (text_hash)
       |WHERE a.source < b.source
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  /** The CHUNK-granularity contamination matrix — which source pairs
    * share RAG-chunk hashes ([[chunkOverlap]]'s windows), the form a
    * retrieval-corpus audit gates on: two sources can share zero whole
    * documents ([[sourceOverlap]] empty) yet interleave boilerplate
    * windows that poison retrieval eval. Composes the two green
    * operators: the chunk explode is map-local, the DISTINCT
    * (source, chunk_hash) projection is one digest-width exchange
    * checkpointed before the self-join, and the matrix fanout is
    * bounded by |sources|² exactly as the exact form.
    */
  def sourceChunkOverlap(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val h = Tables(spark, sfDir, "documents")
      .select(col("source"), expr(toks).as("tk"))
      .withColumn("n", size(col("tk")))
      .withColumn("starts", expr(chunkStartsExpr))
      .select(col("source"), col("tk"),
        explode(col("starts")).as("start"))
      .select(col("source"), chunkHashCol.as("chunk_hash"))
      .distinct()
      .localCheckpoint(true)
    val b = h.select(col("chunk_hash"), col("source").as("source_b"))
    h.select(col("chunk_hash"), col("source").as("source_a"))
      .join(b, "chunk_hash")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_chunks"))
      .orderBy("source_a", "source_b")
  }

  val sourceChunkOverlapSql: String =
    s"""WITH ${duckChunkScan("source")},
       |h AS (
       |  SELECT DISTINCT source, $duckChunkHash AS chunk_hash
       |  FROM s)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  count(*) AS shared_chunks
       |FROM h a JOIN h b USING (chunk_hash)
       |WHERE a.source < b.source
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // -------------------------------------------------------------------- //
  // Per-source data card — the "Datasheets for Datasets" summary row a   //
  // corpus release ships: volume, token shape, exact-dup rate, and       //
  // language-mix entropy per source, in one artifact. Entropy is in      //
  // nats over the source's lang distribution (0 = monolingual).          //
  //                                                                      //
  // Scale (100 TB): the slim per-doc projection is checkpointed and      //
  // feeds two bounded-output aggregations — per-source scalars (the     //
  // distinct-hash count is one (source, hash) exchange ∝ corpus) and a   //
  // (source, lang) count folded into entropy against the broadcast       //
  // per-source totals. Output is |sources| rows.                         //
  // -------------------------------------------------------------------- //

  def dataCard(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables(spark, sfDir, "documents")
      .select(col("source"), col("lang"), col("n_chars"),
        expr(s"size($toks)").as("n_tok"),
        textIdHash.as("text_hash"))
      .localCheckpoint(true)
    val perSrc = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tok").as("total_tokens"),
      sum("n_chars").as("total_chars"),
      countDistinct("text_hash").as("distinct_texts"))
    // per-source totals derive from the lang counts themselves (one
    // window over the |sources|·|langs| frame) — no second evaluation
    // of perSrc and no extra scan of base for the entropy leg
    val pl = col("nl").cast("double") / col("n_docs").cast("double")
    val entropy = base.groupBy("source", "lang")
      .agg(count(lit(1)).as("nl"))
      .withColumn("n_docs", sum("nl").over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .groupBy("source")
      .agg(round(sum(-pl * log(pl)), 4).as("lang_entropy"))
    perSrc.join(broadcast(entropy), "source")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round(col("total_chars").cast("double") /
          col("total_tokens").cast("double"), 4).as("chars_per_token"),
        col("distinct_texts"),
        round(lit(1.0) - col("distinct_texts").cast("double") /
          col("n_docs").cast("double"), 4).as("dup_rate"),
        col("lang_entropy"))
      .orderBy("source")
  }

  val dataCardSql: String =
    s"""WITH base AS (
       |  SELECT source, lang, n_chars,
       |    len($duckToks) AS n_tok,
       |    $duckTextIdHash AS text_hash
       |  FROM documents),
       |s AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |    count(DISTINCT text_hash) AS distinct_texts
       |  FROM base GROUP BY source),
       |e AS (
       |  SELECT b.source,
       |    round(sum(-(CAST(nl AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |      * ln(CAST(nl AS DOUBLE) / CAST(n_docs AS DOUBLE))), 4)
       |      AS lang_entropy
       |  FROM (SELECT source, lang, count(*) AS nl
       |        FROM base GROUP BY source, lang) b
       |  JOIN s USING (source) GROUP BY b.source)
       |SELECT source, n_docs, total_tokens,
       |  round(CAST(total_chars AS DOUBLE) / CAST(total_tokens AS DOUBLE),
       |    4) AS chars_per_token,
       |  distinct_texts,
       |  round(1.0 - CAST(distinct_texts AS DOUBLE)
       |    / CAST(n_docs AS DOUBLE), 4) AS dup_rate,
       |  lang_entropy
       |FROM s JOIN e USING (source) ORDER BY source""".stripMargin

  // -------------------------------------------------------------------- //
  // MinHash-LSH recall audit — "measure, don't guess" for the banded     //
  // pipeline: ground-truth near-neighbors are computed exactly for a     //
  // FIXED-COUNT deterministic hash-sample of audit docs (each sampled    //
  // doc against the WHOLE corpus), then compared with what the          //
  // banded+verified LSH surfaced. This is the audit a production LSH     //
  // dedup ships with. Cost model: the exact-truth term is |sample| ×     //
  // corpus = O(N·k) with k = auditSampleK pinned (NOT a fraction — a     //
  // fixed 10% sample would keep the cartesian quadratic, O(N²/10), and   //
  // grow without bound at 100 TB), so the audit scales linearly with     //
  // the corpus while the LSH side is the production path itself.         //
  // -------------------------------------------------------------------- //

  /** Fixed audit-sample size: the k in the O(N·k) exact-truth leg.
    * Sized as an AUDIT (256 docs ≈ a recall estimate with a ±6%
    * binomial CI at the observed pair density), not a fraction: at
    * sf0.1 a 1000-doc sample is half the corpus and the exact-truth
    * cartesian dominated the whole bench sweep (46.8 s cold); at
    * 100 TB any fixed FRACTION is quadratic. k stays constant as N
    * grows, so the audit's cost is O(N·k) forever.
    */
  private[operators] val auditSampleK = 256

  def minhashRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val (sh, rawPairs) = minhashPairs(spark, sfDir)
    // deterministic fixed-count audit sample — the k docs whose
    // sha256(doc_id) hex sorts smallest (the docs_group_sample
    // discipline: selection is a pure function of the ids, no RNG, both
    // engines agree bit-for-bit); truth = exact-Jaccard neighbors of
    // sampled docs across the whole corpus (unordered pairs, a < b)
    // the exact-Jaccard audit runs on 60-bit shingle FINGERPRINTS
    // (first 15 sha256 hex chars — the widened form of the minhash
    // stage's 28-bit base, mirrored verbatim in the oracle): per-pair
    // set intersection over longs costs a fraction of hashing ~30-char
    // strings, and at ~10⁶ distinct shingles the collision expectation
    // is ~1e-7 — the fingerprint Jaccard IS the string Jaccard.
    // Measured at sf0.1: 68.8 → 6.0 s for the whole audit.
    val fp = expr(s"array_distinct(transform(sh, v -> $fp60Scalar))")
    // the sample is auditSampleK known-small checkpointed rows (the
    // checkpoint also stops the product re-running its corpus-wide
    // sort+limit once per partition of the other side), so the planner
    // turns the product into a broadcast nested-loop join with the
    // CORPUS as the streamed side — which means the corpus leg, not
    // the sample leg, must carry the parallelism: a 1-partition corpus
    // (single-row-group parquet) would run every intersect on one task
    // (measured 13.5 s vs 4.1 s at sf0.1). The round-6 modulus-sample
    // shape repartitioned the SAMPLE because its stats-free filter
    // kept a 32×1 CartesianProduct; the broadcast shape inverts which
    // side needs the split.
    val sample = sh
      .orderBy(sha2(col("doc_id").cast("string"), 256), col("doc_id"))
      .limit(auditSampleK)
      .select(col("doc_id").as("s_id"), fp.as("s_fp"))
      .localCheckpoint(true)
    // materialize the corpus fingerprint leg BEFORE the product (a
    // recomputed leg re-ran the per-shingle sha256 projection per
    // evaluation — the round-6 bench-all sweep caught it: 51 s cold,
    // of which ~45 s was repeated hashing), spread over 32 partitions
    // so the broadcast-NLJ streams it on every core.
    val corpusFp = sh.select(col("doc_id").as("d_id"), fp.as("d_fp"))
      .repartition(32)
      .localCheckpoint(true)
    // the size-ratio prefilter is implied by the KEPT predicate
    // round(jac, 4) >= 0.3, whose true-jac floor is 0.29995 (jac ≤
    // min/max ⇒ min·100000 ≥ max·29995 — the rounded bound, not the
    // naive 0.3 one, which would prune ratio-[0.29995, 0.3) pairs the
    // unfiltered query emits); it runs as three codegen'd integer ops
    // per pair, pruning most of the product before the expensive set
    // intersection — result-identical, mirrored in the oracle
    val truth = sample.crossJoin(corpusFp)
      .filter(col("s_id") =!= col("d_id"))
      .filter(expr("size(s_fp) * 100000L >= size(d_fp) * 29995L") &&
        expr("size(d_fp) * 100000L >= size(s_fp) * 29995L"))
      .withColumn("jac", round(
        expr("size(array_intersect(s_fp, d_fp))").cast("double") /
          expr("size(array_union(s_fp, d_fp))"), 4))
      .filter(col("jac") >= 0.3)
      .select(least(col("s_id"), col("d_id")).as("a_id"),
        greatest(col("s_id"), col("d_id")).as("b_id"))
      .distinct()
    val lsh = rawPairs.select("a_id", "b_id")
    val hit = truth.join(lsh, Seq("a_id", "b_id"), "left_semi")
    val out = truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .select(col("n_true"), col("n_hit"), col("n_lsh"),
        when(col("n_true") === 0, lit(0.0))
          .otherwise(round(col("n_hit").cast("double") / col("n_true"), 4))
          .as("recall"))
      .localCheckpoint(true)
    sh.unpersist()
    out
  }

  val minhashRecallSql: String =
    s"""WITH ${minhashCtesFrom("documents")},
       |lsh AS (SELECT a_id, b_id FROM pairs WHERE jac >= 0.3),
       |fps AS (
       |  SELECT doc_id, ${duckFp60("s")} AS fp
       |  FROM sh),
       |smp AS (SELECT doc_id AS s_id, fp AS s_fp FROM fps
       |        ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id
       |        LIMIT 256),
       |truth AS (
       |  SELECT DISTINCT least(s_id, d.doc_id) AS a_id,
       |    greatest(s_id, d.doc_id) AS b_id
       |  FROM smp, fps d
       |  WHERE s_id <> d.doc_id
       |    AND len(s_fp) * 100000 >= len(d.fp) * 29995
       |    AND len(d.fp) * 100000 >= len(s_fp) * 29995
       |    AND round(CAST(len(list_intersect(s_fp, d.fp)) AS DOUBLE)
       |          / len(list_distinct(list_concat(s_fp, d.fp))), 4) >= 0.3),
       |hit AS (SELECT * FROM truth WHERE EXISTS (
       |  SELECT 1 FROM lsh WHERE lsh.a_id = truth.a_id
       |    AND lsh.b_id = truth.b_id))
       |SELECT (SELECT count(*) FROM truth) AS n_true,
       |  (SELECT count(*) FROM hit) AS n_hit,
       |  (SELECT count(*) FROM lsh) AS n_lsh,
       |  CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 0.0
       |    ELSE round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
       |           / (SELECT count(*) FROM truth), 4) END AS recall""".stripMargin

  // -------------------------------------------------------------------- //
  // END-TO-END CURATION PIPELINE: the composed flow a training-data team //
  // actually runs, assembled from the individually-verified stages —     //
  // exact dedup → MinHash near-dup drop → quality filter → repetition    //
  // filter → benchmark decontamination — with a per-stage audit row      //
  // (docs and tokens remaining) as the output contract. The oracle       //
  // re-derives every stage in one composed SQL statement, so the GATE    //
  // checks the whole pipeline's survivor arithmetic, not just each       //
  // stage in isolation.                                                  //
  //                                                                      //
  // Scale: nothing new — each stage keeps its own audited shape (digest  //
  // groupBy / banded LSH + label propagation / per-row filters /        //
  // broadcast semi-join); survivor sets pass between stages as          //
  // checkpointed id-joined frames, the same anti/semi-join pattern the   //
  // fs pipeline's deletion path uses.                                    //
  // -------------------------------------------------------------------- //

  def curationPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        expr(s"size($toks)").as("n_tokens"))
    // 1: exact dedup — keep the min doc_id of each first-8-token group
    val keep1 = raw
      .groupBy(textIdHash.as("th"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val s1 = raw.join(keep1, Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    // 2: near-dup — drop every non-representative cluster member
    val (sh2, pairs2) = minhashPairsOn(s1)
    val drops2 = components(pairs2.select("a_id", "b_id"))
      .filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    val s2 = s1.join(drops2, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    sh2.unpersist()
    // 3: quality — THE qualityScore formula (shared Column builder, so
    // the standalone gate and this stage can't drift), keep >= 0.2.
    // Checkpointed: the audit union + three downstream stages would
    // otherwise re-run the stopword HOF over the survivors per leg.
    val s3 = s2.filter(qualityCol(
        expr(s"size(filter($toks, t -> t IN ($stopList)))"),
        col("n_tokens")) >= 0.2)
      .localCheckpoint(true)
    // 4: repetition — THE repetitionFilter flag (shared builder)
    val s4 = s3.filter(!repetitiousCol(
        expr(s"size(${kgrams(2)})"), col("n_tokens")))
      .localCheckpoint(true)
    // 5: decontamination — the benchmark carve comes from the RAW corpus
    // (the eval set is fixed, not subject to upstream filtering); drop
    // eval docs themselves and every survivor sharing a 4-gram with them
    val evalG = raw.filter(col("doc_id") % 101 === 0)
      .select(explode(expr(kgrams(4))).as("g")).distinct()
    val cont = s4.select(col("doc_id"), explode(expr(kgrams(4))).as("g"))
      .join(broadcast(evalG), Seq("g"))
      .select("doc_id").distinct()
    val s5 = s4.filter(col("doc_id") % 101 =!= 0)
      .join(cont, Seq("doc_id"), "left_anti")
    def audit(df: DataFrame, stage: String) =
      df.agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"))
        .select(lit(stage).as("stage"), col("docs"), col("tokens"))
    audit(raw, "0_raw")
      .unionAll(audit(s1, "1_exact"))
      .unionAll(audit(s2, "2_neardup"))
      .unionAll(audit(s3, "3_quality"))
      .unionAll(audit(s4, "4_repetition"))
      .unionAll(audit(s5, "5_decontam"))
      .orderBy("stage")
  }

  val curationPipelineSql: String =
    s"""WITH RECURSIVE
       |raw AS (SELECT doc_id, text, len($duckToks) AS n_tokens
       |        FROM documents),
       |keep1 AS (SELECT min(doc_id) AS doc_id FROM raw
       |          GROUP BY ${duckTextIdHash.replace(duckToks, s"($duckToks)")}),
       |s1 AS (SELECT raw.* FROM raw JOIN keep1 USING (doc_id)),
       |${minhashCtesFrom("s1")},
       |npairs AS (SELECT a_id, b_id FROM pairs WHERE jac >= 0.3),
       |edges AS (
       |  SELECT a_id AS s, b_id AS d FROM npairs
       |  UNION ALL SELECT b_id, a_id FROM npairs),
       |nodes AS (SELECT DISTINCT s AS node FROM edges),
       |reach(node, label) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node),
       |drop2 AS (SELECT node AS doc_id FROM reach
       |          GROUP BY node HAVING node <> min(label)),
       |s2 AS (SELECT s1.* FROM s1
       |       WHERE doc_id NOT IN (SELECT doc_id FROM drop2)),
       |s3 AS (SELECT * FROM s2 WHERE
       |  round(0.5 * (CAST(len(list_filter($duckToks,
       |          t -> t IN ($stopList))) AS DOUBLE) / n_tokens)
       |    + 0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0), 4) >= 0.2),
       |s4 AS (SELECT * FROM s3 WHERE NOT
       |  (1.0 - CAST(len(${duckKgrams(2)}) AS DOUBLE)
       |     / (CAST(n_tokens AS DOUBLE) - 1) > 0.5)),
       |evalg AS (SELECT DISTINCT unnest(${duckKgrams(4)}) AS g
       |          FROM raw WHERE doc_id % 101 = 0),
       |cont AS (SELECT DISTINCT doc_id FROM (
       |  SELECT doc_id, unnest(${duckKgrams(4)}) AS g FROM s4)
       |  WHERE g IN (SELECT g FROM evalg)),
       |s5 AS (SELECT * FROM s4 WHERE doc_id % 101 <> 0
       |       AND doc_id NOT IN (SELECT doc_id FROM cont))
       |SELECT stage, docs, tokens FROM (
       |  SELECT '0_raw' AS stage, count(*) AS docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS tokens FROM raw
       |  UNION ALL SELECT '1_exact', count(*),
       |    CAST(sum(n_tokens) AS BIGINT) FROM s1
       |  UNION ALL SELECT '2_neardup', count(*),
       |    CAST(sum(n_tokens) AS BIGINT) FROM s2
       |  UNION ALL SELECT '3_quality', count(*),
       |    CAST(sum(n_tokens) AS BIGINT) FROM s3
       |  UNION ALL SELECT '4_repetition', count(*),
       |    CAST(sum(n_tokens) AS BIGINT) FROM s4
       |  UNION ALL SELECT '5_decontam', count(*),
       |    CAST(sum(n_tokens) AS BIGINT) FROM s5)
       |ORDER BY stage""".stripMargin

  /** Native inverted index construction — the structure the ES sink
    * delegates to Elasticsearch (S10's term search), built as a Spark
    * query: term → document frequency + the sorted posting-list head.
    * This is what a self-hosted search tier materializes at 100 TB:
    * explode terms (map-side), ONE shuffle on the term key, posting
    * lists assembled by a partial-aggregable collect_set; the full
    * index would be written partitioned by term bucket — here the
    * output is the df-ranked head with a bounded 20-id posting prefix
    * per term, rendered to a string (the gate's array-dtype rule).
    */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"),
        array_join(slice(sort_array(collect_set(col("doc_id"))), 1, 20),
          ",").as("postings_head"))
      .orderBy(col("df").desc, col("term"))
      .limit(50)

  val invertedIndexSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |p AS (
      |  SELECT term, count(DISTINCT doc_id) AS df,
      |    array_to_string(
      |      (list_sort(list_distinct(array_agg(doc_id))))[1:20],
      |      ',') AS postings_head
      |  FROM t WHERE term <> '' GROUP BY term)
      |SELECT term, df, postings_head FROM p
      |ORDER BY df DESC, term LIMIT 50""".stripMargin

  /** Positional phrase search — the positional-inverted-index operator:
    * find documents containing the exact 2-token phrase "order order"
    * by joining each term's position postings on (doc, pos+1). The
    * deliberately self-overlapping phrase pins OVERLAP semantics
    * ("order order order" = 2 matches) that a split-and-count would
    * undercount. Scale shape: position postings explode map-side and
    * meet through ONE (doc_id, pos)-keyed equi-join — at index scale
    * the postings are the stored term-partitioned index and only the
    * two probed terms' lists are read.
    */
  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val a = toks.filter(col("w") === "order")
      .select(col("doc_id"), col("pos"))
    val b = toks.filter(col("w") === "order")
      .select(col("doc_id").as("d2"), (col("pos") - 1).as("p2"))
    a.join(b, col("doc_id") === col("d2") && col("pos") === col("p2"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_occur"))
      .orderBy(col("n_occur").desc, col("doc_id"))
      .limit(20)
  }

  val phraseSearchSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
      |           FROM documents),
      |p AS (SELECT doc_id, u.i AS pos
      |      FROM t, LATERAL unnest(generate_series(1, len(w))) AS u(i)
      |      WHERE w[u.i] = 'order'),
      |q AS (SELECT doc_id, u.i AS pos
      |      FROM t, LATERAL unnest(generate_series(1, len(w))) AS u(i)
      |      WHERE w[u.i] = 'order')
      |SELECT p.doc_id AS doc_id, count(*) AS n_occur
      |FROM p JOIN q ON p.doc_id = q.doc_id AND q.pos = p.pos + 1
      |GROUP BY p.doc_id ORDER BY n_occur DESC, p.doc_id LIMIT 20""".stripMargin

  /** The same phrase count served from [[TermIndex]]'s positional
    * postings (two-half incremental build, as `docs_bm25_indexed`);
    * shares `docs_phrase_search`'s oracle.
    */
  def phraseIndexed(spark: SparkSession, sfDir: String): DataFrame =
    TermIndex.phraseSearch(spark, termIndexFor(spark, sfDir),
      "order", "order", k = 20)

  /** N-TOKEN phrase serving from the same store — the generalized
    * positional query ([[TermIndex.phraseSearch]]'s Seq form, the
    * arbitrary-length Lucene phrase shape): the 3-token chain reads
    * the three terms' bucket partitions and runs two co-keyed
    * (doc_id, anchor-position) joins. Oracle: the same three-way
    * position chain in DuckDB.
    */
  private val phrase3 = Seq("big", "order", "scan")

  def phrase3Indexed(spark: SparkSession, sfDir: String): DataFrame =
    TermIndex.phraseSearch(spark, termIndexFor(spark, sfDir),
      phrase3, k = 20)

  val phrase3IndexedSql: String = {
    val legs = phrase3.zipWithIndex.map { case (t, i) =>
      s"""p$i AS (SELECT doc_id, u.i - $i AS p
         |      FROM t, LATERAL unnest(generate_series(1, len(w))) AS u(i)
         |      WHERE w[u.i] = '$t')""".stripMargin
    }.mkString(",\n")
    val joins = (1 until phrase3.length).map(i =>
      s"JOIN p$i ON p$i.doc_id = p0.doc_id AND p$i.p = p0.p")
      .mkString(" ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
       |           FROM documents),
       |$legs
       |SELECT p0.doc_id AS doc_id, count(*) AS n_occur
       |FROM p0 $joins
       |GROUP BY p0.doc_id ORDER BY n_occur DESC, p0.doc_id LIMIT 20"""
      .stripMargin
  }

  // -------------------------------------------------------------------- //
  // Deterministic training-order shuffle — the last step of a curation  //
  // pipeline: order the corpus by a seeded content hash so every run    //
  // (and every engine) produces the SAME "random" order. The global     //
  // row_number here is the oracle-parity shape; at 100 TB you never     //
  // materialize a global position — `ORDER BY shuffle_key` on write is  //
  // one range exchange (sorted output splits), and a reader that needs  //
  // positions derives them per split from file offsets. Changing the    //
  // seed string reshuffles; the hash key also makes resumable sharding  //
  // trivial (shard = prefix of the key space).                          //
  // -------------------------------------------------------------------- //

  /** The declared row runs the RANGE-EXCHANGE core (r17: guide §2 —
    * the global `row_number()` window was a single-partition sort of
    * the whole corpus): positions derive from a range partitioning on
    * the shuffle key + within-partition sort + per-partition offsets
    * lifted by a ≤`parts`-row count collect — zero global windows.
    * Positions are invariant to the partitioning, so the output is
    * value-identical to the global window and the oracle is unchanged;
    * [[trainOrderGlobalOn]] is kept as TextOpsSpec's reference shape.
    * Partition count follows the session's shuffle parallelism, not a
    * constant. `docs_train_order_ranged` is the same row under its
    * older name.
    */
  def trainOrder(spark: SparkSession, sfDir: String): DataFrame =
    rangedPositionsOn(spark, docsKeyed(spark, sfDir),
      parts = spark.sessionState.conf.numShufflePartitions,
      keys = Seq("shuffle_key", "doc_id"), posCol = "shuffle_pos")

  private def docsKeyed(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        sha2(concat(lit("seed42:"), col("doc_id").cast("string")), 256)
          .as("shuffle_key"))

  /** The oracle-parity form: ONE global row_number window (a
    * single-partition sort) — TextOpsSpec's reference for
    * [[trainOrder]]'s ranged positions.
    */
  private[graft] def trainOrderGlobalOn(keyed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    keyed
      .withColumn("shuffle_pos",
        row_number().over(Window.orderBy("shuffle_key", "doc_id")))
      .orderBy("shuffle_pos")
  }

  val trainOrderSql: String =
    """SELECT doc_id,
      |  sha256('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
      |  row_number() OVER (
      |    ORDER BY sha256('seed42:' || CAST(doc_id AS VARCHAR)), doc_id)
      |    AS shuffle_pos
      |FROM documents ORDER BY shuffle_pos""".stripMargin

  /** CURRICULUM-ordered training schedule — the banded generalization
    * of [[trainOrder]]'s uniform shuffle (curriculum data scheduling:
    * coarse quality phases, uniform shuffle INSIDE each phase — the
    * anneal recipe's "best data last", [[annealMix]], turned into a
    * loadable order): band = the corpus-wide quality decile via the
    * calibration row's ONE bounded-state percentile broadcast (never a
    * global sort to FIND bands), position = row_number over
    * (band ASC, seeded content hash, doc_id) so the highest-quality
    * decile streams last. The oracle's global window is the parity
    * shape; the declared row runs [[rangedPositionsOn]]'s range-exchange
    * core with (band, shuffle_key, doc_id) as the range key.
    * `docs_curriculum_order_ranged` is the same row under its older
    * name.
    */
  def curriculumOrder(spark: SparkSession, sfDir: String): DataFrame =
    // r17: the declared row runs the range-exchange core (guide §2) —
    // same rewrite as [[trainOrder]]; the former global row_number
    // window single-partition-sorted the whole banded corpus. Output is
    // value-identical (positions are determined by the total order
    // (band, shuffle_key, doc_id), not the partitioning).
    rangedPositionsOn(spark, curriculumBanded(spark, sfDir),
      parts = spark.sessionState.conf.numShufflePartitions,
      keys = Seq("band", "shuffle_key", "doc_id"),
      posCol = "curriculum_pos")

  /** The shared banding stage: (doc_id, band, shuffle_key) — quality
    * decile via ONE bounded-state percentile broadcast.
    */
  private def curriculumBanded(spark: SparkSession,
      sfDir: String): DataFrame = {
    val scored = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr(s"size($toks)").as("n_tokens"),
        expr(s"size(filter($toks, t -> t IN ($stopList)))").as("n_stop"))
      .withColumn("quality", qualityCol(col("n_stop"), col("n_tokens")))
      .select(col("doc_id"), col("quality"),
        sha2(concat(lit("seed42:"), col("doc_id").cast("string")), 256)
          .as("shuffle_key"))
      .localCheckpoint(true)
    val cuts = scored.agg(expr(
      "transform(percentile(quality, array(0.1D, 0.2D, 0.3D, 0.4D, " +
        "0.5D, 0.6D, 0.7D, 0.8D, 0.9D)), x -> round(x, 4))").as("cs"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"),
        expr("int(1 + size(filter(cs, c -> quality > c)))").as("band"),
        col("shuffle_key"))
  }

  val curriculumOrderSql: String =
    s"""WITH sc AS (
       |  SELECT doc_id,
       |    round(0.5 * (CAST(len(list_filter($duckToks,
       |          t -> t IN ($stopList))) AS DOUBLE) / len($duckToks))
       |        + 0.5 * least(1.0, CAST(len($duckToks) AS DOUBLE) / 100.0),
       |        4) AS quality,
       |    sha256('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
       |  FROM documents),
       |cuts AS (
       |  SELECT list_transform(quantile_cont(quality,
       |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
       |    x -> round(x, 4)) AS cs
       |  FROM sc),
       |banded AS (
       |  SELECT doc_id,
       |    CAST(1 + len(list_filter(cuts.cs, c -> sc.quality > c))
       |      AS INT) AS band,
       |    shuffle_key
       |  FROM sc, cuts)
       |SELECT doc_id, band, shuffle_key,
       |  row_number() OVER (ORDER BY band, shuffle_key, doc_id)
       |    AS curriculum_pos
       |FROM banded ORDER BY curriculum_pos""".stripMargin

  /** Range-exchange positions: a position is the running sum of 1 over
    * the total `keys` order — [[rangedCumSumOn]] over a constant `1L`,
    * ordered by position. Positions are BIGINT (the ranged forms exist
    * precisely for corpora past 2³¹ documents, where the parity twins'
    * global `row_number()` window is already off the table — an int
    * position would wrap negative in the operator's own target regime;
    * DuckDB's `row_number()` oracle is BIGINT natively, and the oracle
    * compare accepts integer-width drift against the int parity twins).
    * TextOpsSpec drives `base` across the 2³¹ boundary to pin that
    * positions stay exact longs there.
    */
  private[graft] def rangedPositionsOn(spark: SparkSession,
      keyed: DataFrame, parts: Int, keys: Seq[String],
      posCol: String, base: Long = 0L): DataFrame =
    rangedCumSumOn(spark, keyed, parts, keys.map(col), lit(1L), posCol,
      base)._1.orderBy(posCol)

  /** The one range-exchange core: range-partition on `keys`, sort
    * within partitions on the same keys, lift per-partition running
    * sums of `value` (one streaming O(1)-state pass per partition — no
    * per-pid re-shuffle, no window buffer) to the global running sum
    * via cumulative per-partition totals (a ≤`parts`-row collect).
    * Emits every column of `df` plus `cumCol` = `base` + the INCLUSIVE
    * prefix sum of `value` in the total `keys` order — value-identical
    * to `sum(value).over(Window.orderBy(keys).rowsBetween(
    * unboundedPreceding, currentRow))` when `keys` is a unique total
    * order (exact long arithmetic, associative regardless of where the
    * sampled range bounds fall), with no single-partition window
    * anywhere. `keys` are columns, so `.desc` orders work (the
    * rank-window rewrites over score orders need them); `value` must be
    * LONG. `base` offsets every sum, so a resumable multi-epoch order
    * can chain calls without renumbering.
    *
    * Also returns the row count N: it is already on the driver from the
    * per-partition totals collect, so rank-arithmetic callers (ntile /
    * percent_rank / cume_dist, pure functions of (position, N) over a
    * unique total order) don't pay a second aggregate for it.
    */
  private[graft] def rangedCumSumOn(spark: SparkSession, df: DataFrame,
      parts: Int, keys: Seq[Column], value: Column, cumCol: String,
      base: Long = 0L): (DataFrame, Long) = {
    import org.apache.spark.sql.{Encoders, Row}
    val outCols = df.columns.toSeq
    // checkpoint pins row/partition placement, so the totals job and
    // the running-sum pass see the same split
    val mid = df
      .repartitionByRange(parts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .select(outCols.map(col) ++ Seq(value.as("__v"),
        spark_partition_id().as("__pid")): _*)
      .localCheckpoint(true)
    val totals = mid.groupBy("__pid")
      .agg(count(lit(1)), coalesce(sum(col("__v")), lit(0L)))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val offByPid: Map[Int, Long] = totals.map(_._1)
      .zip(totals.scanLeft(base)(_ + _._3)).toMap
    val vIdx = mid.columns.indexOf("__v")
    val pIdx = mid.columns.indexOf("__pid")
    val outSchema = org.apache.spark.sql.types.StructType(
      mid.schema.fields :+ org.apache.spark.sql.types.StructField(
        cumCol, org.apache.spark.sql.types.LongType, nullable = false))
    val out = mid.mapPartitions { it =>
      var acc = 0L
      var first = true
      it.map { r =>
        if (first) { acc = offByPid.getOrElse(r.getInt(pIdx), base); first = false }
        acc += r.getLong(vIdx)
        Row.fromSeq(r.toSeq :+ acc)
      }
    }(Encoders.row(outSchema))
      .select((outCols :+ cumCol).map(col): _*)
    (out, totals.map(_._2).sum)
  }

  // -------------------------------------------------------------------- //
  // Blocklist / toxicity filter — the standard term-list curation stage //
  // (flag or drop documents containing blocked vocabulary). A bounded   //
  // literal list compiles to a codegen'd IN predicate inside one        //
  // map-only pass (no shuffle, no join); a REAL blocklist (100k terms)  //
  // flips to the decontaminate shape: explode tokens, broadcast-join    //
  // the term set, count matches per doc — same output contract. The     //
  // match count and density, not just a flag, are emitted so callers    //
  // can threshold instead of hard-dropping.                             //
  // -------------------------------------------------------------------- //

  private val blockTerms = Seq("slow", "leak", "spill")

  def blocklistFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val inList = blockTerms.map(t => s"'$t'").mkString(", ")
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr(s"size(filter($toks, t -> t IN ($inList)))").as("n_blocked"),
        expr(s"size($toks)").as("n_tokens"))
      .withColumn("density",
        round(col("n_blocked").cast("double") / col("n_tokens"), 6))
      .withColumn("blocked", col("n_blocked") >= 3)
      .orderBy("doc_id")
  }

  val blocklistFilterSql: String = {
    val inList = blockTerms.map(t => s"'$t'").mkString(", ")
    s"""SELECT doc_id,
       |  len(list_filter(string_split(text, ' '),
       |      t -> t IN ($inList))) AS n_blocked,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  round(CAST(len(list_filter(string_split(text, ' '),
       |      t -> t IN ($inList))) AS DOUBLE)
       |    / len(string_split(text, ' ')), 6) AS density,
       |  len(list_filter(string_split(text, ' '),
       |      t -> t IN ($inList))) >= 3 AS blocked
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------- //
  // Per-domain document cap — "keep at most k docs per source, best      //
  // first", the standard corpus-balancing step that stops one crawl     //
  // domain from dominating a training mix. Runs on the NATIVE           //
  // GroupTopK operator (graft.plans — custom LogicalPlan + partial/     //
  // final physical plan): at 100 TB the window row_number form would    //
  // shuffle every document to its source's reducer; the native partial  //
  // heaps forward at most partitions × sources × k candidate rows.     //
  // Ranking is (n_chars DESC, doc_id ASC) — a deterministic total      //
  // order, so row_number parity with the DuckDB window oracle is exact. //
  // -------------------------------------------------------------------- //

  def domainCap(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
      .select("source", "doc_id", "n_chars")
    graft.plans.GroupTopK
      .topK(docs, Seq("source"), Seq(("n_chars", true), ("doc_id", false)),
        k = 10)
      .orderBy("source", "rk")
  }

  val domainCapSql: String =
    """SELECT source, doc_id, n_chars, rk FROM (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 10 ORDER BY source, rk""".stripMargin

  /** Deterministic per-group reservoir sample — balanced per-(source,
    * lang) subsets without a random number generator: rank every doc
    * inside its group by a seeded ID-HASH (uniform over ids, so the
    * top-k by hash IS a uniform k-sample, the standard hash-reservoir
    * trick; hashing the ID keeps byte-identical duplicate documents
    * independently sampleable — hash the content instead if the draw
    * should follow the bytes) and keep k=5, on the NATIVE GroupTopK
    * operator — bounded map-side heaps, no per-group window shuffle,
    * and the same sample no matter how the corpus is partitioned,
    * re-sharded or re-run. Changing the seed string draws a fresh
    * sample.
    */
  def groupSample(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = Tables(spark, sfDir, "documents")
      .select(col("source"), col("lang"), col("doc_id"),
        sha2(concat(lit("sample7:"), col("doc_id").cast("string")), 256)
          .as("draw"))
    graft.plans.GroupTopK
      .topK(keyed, Seq("source", "lang"),
        Seq(("draw", false), ("doc_id", false)), k = 5)
      .select("source", "lang", "doc_id", "rk")
      .orderBy("source", "lang", "rk")
  }

  val groupSampleSql: String =
    """SELECT source, lang, doc_id, rk FROM (
      |  SELECT source, lang, doc_id,
      |    row_number() OVER (PARTITION BY source, lang
      |      ORDER BY sha256('sample7:' || CAST(doc_id AS VARCHAR)),
      |        doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 5 ORDER BY source, lang, rk""".stripMargin

  // -------------------------------------------------------------------- //
  // RAG chunking — overlapping token windows (size 32, stride 16), the   //
  // standard retrieval-corpus prep: every chunk is independently         //
  // embeddable and the overlap keeps sentences that straddle a boundary  //
  // retrievable from both sides.                                         //
  // -------------------------------------------------------------------- //

  // final + literal = compile-time constants, safe to reference from
  // vals ABOVE this point in the file (sourceChunkOverlapSql) — a plain
  // val would be 0 during their object-init
  private final val ChunkSize = 32
  private final val ChunkStride = 16

  /** THE chunk-window grid, single definition (defs, so file position
    * doesn't matter): starts are 1, 1+stride, …, with the last start
    * the smallest still covering the final token; the hash is the
    * space-joined window under `sha256`. Shared by the chunk explode,
    * chunk dedup, and the source-overlap contamination matrix — a grid
    * change (e.g. ChunkStride) can no longer desynchronize them.
    * Spark side expects columns `n` (token count) / `tk` / `start`;
    * oracle side is the matching d/s CTE chain over `documents`,
    * parameterized by the carried id column.
    */
  private def chunkStartsExpr: String =
    s"sequence(1, 1 + $ChunkStride * ((greatest(n - $ChunkSize, 0)" +
      s" + $ChunkStride - 1) div $ChunkStride), $ChunkStride)"
  private def chunkHashCol: Column =
    sha2(expr(s"array_join(slice(tk, start, $ChunkSize), ' ')"), 256)
  private def duckChunkScan(idCol: String): String =
    s"""d AS (
       |  SELECT $idCol, $duckToks AS tk, len($duckToks) AS n
       |  FROM documents),
       |s AS (
       |  SELECT $idCol, n, tk, CAST(t.s AS BIGINT) AS start,
       |    CAST(row_number() OVER (PARTITION BY $idCol ORDER BY t.s)
       |      AS BIGINT) AS chunk_idx
       |  FROM d, LATERAL unnest(generate_series(1,
       |    1 + $ChunkStride * ((greatest(n - $ChunkSize, 0)
       |      + $ChunkStride - 1) // $ChunkStride), $ChunkStride)) AS t(s))"""
      .stripMargin
  private def duckChunkHash: String =
    s"sha256(array_to_string(tk[start : start + $ChunkSize - 1], ' '))"

  /** Explode each document into overlapping token windows. Chunk starts
    * are 1, 1+stride, 1+2·stride, …; the last start is the smallest that
    * still covers the final token (ceil((n-size)/stride) strides in), so
    * every token lands in ≥1 chunk and a short doc yields exactly one.
    * Per-row HOFs only (`sequence` + `slice`) — no shuffle at all until
    * the output sort, and at 100 TB the sort is the consumer's choice;
    * the chunk hash is the downstream embed-dedup key.
    */
  def chunkOverlap(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr(toks).as("tk"))
      .withColumn("n", size(col("tk")))
      .withColumn("starts", expr(chunkStartsExpr))
      .select(col("doc_id"), col("n"), col("tk"),
        posexplode(col("starts")).as(Seq("pos", "start")))
      .select(col("doc_id"), (col("pos") + 1).as("chunk_idx"),
        col("start"),
        least(lit(ChunkSize), col("n") - col("start") + 1).as("n_tok"),
        chunkHashCol.as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")

  val chunkOverlapSql: String =
    s"""WITH ${duckChunkScan("doc_id")}
       |SELECT doc_id, chunk_idx, start,
       |  least($ChunkSize, n - start + 1) AS n_tok,
       |  $duckChunkHash AS chunk_hash
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  /** Cross-document CHUNK dedup — the dedup granularity a RAG/embedding
    * corpus actually needs: two different documents sharing a boilerplate
    * window should embed it once. Reuses [[chunkOverlap]]'s frame and
    * groups on the chunk hash (one map-side-combinable digest shuffle,
    * the [[dedupExact]] plan at chunk granularity); only true duplicate
    * groups are reported, keeper = lexicographic-min (doc, idx).
    */
  def chunkDedup(spark: SparkSession, sfDir: String): DataFrame =
    chunkOverlap(spark, sfDir)
      .groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("chunk_idx"))).as("k"))
      .filter(col("n_copies") > 1)
      .select(col("chunk_hash"), col("n_copies"), col("n_docs"),
        col("k.doc_id").as("keep_doc"), col("k.chunk_idx").as("keep_idx"))
      .orderBy("chunk_hash")

  val chunkDedupSql: String =
    s"""WITH ${duckChunkScan("doc_id")},
       |c AS (
       |  SELECT doc_id, chunk_idx, $duckChunkHash AS chunk_hash
       |  FROM s),
       |g AS (
       |  SELECT chunk_hash, count(*) AS n_copies,
       |    count(DISTINCT doc_id) AS n_docs,
       |    min(doc_id) AS keep_doc
       |  FROM c GROUP BY chunk_hash HAVING count(*) > 1)
       |SELECT g.chunk_hash, g.n_copies, g.n_docs, g.keep_doc,
       |  min(c.chunk_idx) AS keep_idx
       |FROM g JOIN c ON c.chunk_hash = g.chunk_hash
       |  AND c.doc_id = g.keep_doc
       |GROUP BY g.chunk_hash, g.n_copies, g.n_docs, g.keep_doc
       |ORDER BY g.chunk_hash""".stripMargin

  // -------------------------------------------------------------------- //
  // Winnowing (Schleimer, Wilkerson, Aiken, SIGMOD'03 — the MOSS         //
  // fingerprint): k-gram rolling hashes, minimum per sliding window,     //
  // distinct selected values = the document sketch. The guarantee the   //
  // plain rolling hash lacks: any shared substring of length ≥ k+w-1    //
  // contributes at least one COMMON selected hash to both sketches.     //
  // -------------------------------------------------------------------- //

  // k+w-1 = 23 chars (~4 words) is the guarantee threshold: any shared
  // substring at least that long yields a common selected hash. k=8
  // (2 words) marked two-thirds of all document pairs as related on
  // this corpus — a detector that fires on everything detects nothing.
  private val WinK = 16 // k-gram length (chars)
  private val WinW = 8  // winnowing window (grams)

  /** Per-document winnowing sketch: char k-gram polynomial hashes (the
    * same `(h·31+c) mod 2³¹−1` family as [[rollingHash]]), window-min
    * selection, distinct selected values, all in per-row HOFs — zero
    * shuffle, embarrassingly parallel at any corpus size. Output is the
    * selected-set size plus its order-insensitive digest (sorted join →
    * sha256), the form two corpora can be compared by.
    */
  def winnowing(spark: SparkSession, sfDir: String): DataFrame = {
    // gram hashing + window-min + distinct fused into the native
    // codegen'd winnow_select kernel ([[graft.functions.WinnowSelect]]).
    // The HOF pipeline it replaces ran interpreted lambdas with three
    // intermediate arrays per row: 14.8 s naive, 3.1 s with the char
    // codes hoisted, 0.6 s native — identical checksums at each step
    // (WinnowExprSpec pins native ≡ HOF on the corpus).
    graft.functions.GraftFunctions.register(spark)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        (length(col("text")) - WinK + 1).as("gl"),
        expr(s"winnow_select(text, $WinK, $WinW)").as("sel"))
      .select(col("doc_id"),
        greatest(col("gl"), lit(0)).cast("long").as("n_grams"),
        size(col("sel")).cast("long").as("n_selected"),
        sha2(expr("array_join(transform(sel, v -> cast(v AS string)), ',')"),
          256).as("sketch"))
      .orderBy("doc_id")
  }

  val winnowingSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, length(text) - $WinK + 1 AS gl,
       |    CASE WHEN length(text) - $WinK + 1 >= 1 THEN
       |      list_transform(generate_series(1, length(text) - $WinK + 1),
       |        i -> list_reduce(
       |          list_prepend(CAST(0 AS BIGINT),
       |            list_transform(generate_series(i, i + ${WinK - 1}),
       |              j -> CAST(ord(substr(text, j, 1)) AS BIGINT))),
       |          (h, c) -> (h * 31 + c) % 2147483647))
       |    ELSE [] END AS grams
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, gl,
       |    list_sort(list_distinct(CASE WHEN len(grams) >= 1 THEN
       |      list_transform(
       |        generate_series(1, greatest(len(grams) - $WinW + 1, 1)),
       |        j -> list_min(grams[j : j + ${WinW - 1}]))
       |    ELSE [] END)) AS sel
       |  FROM g)
       |SELECT doc_id, CAST(greatest(gl, 0) AS BIGINT) AS n_grams,
       |  CAST(len(sel) AS BIGINT) AS n_selected,
       |  sha256(array_to_string(
       |    list_transform(sel, v -> CAST(v AS VARCHAR)), ',')) AS sketch
       |FROM w ORDER BY doc_id""".stripMargin

  /** Documents-per-hash cap for [[winnowPairs]]: a selected hash present
    * in more hashes than this is corpus boilerplate (a stop-hash) and is
    * dropped BEFORE the self-join — the skew guard that keeps the
    * hash-key join linear when one boilerplate sentence appears in
    * millions of documents.
    */
  private val WinnowStopDocs = 50
  private val WinnowMinShared = 3

  /** Winnow-sketch MATCH detection — what the MOSS service does with
    * the sketches [[winnowing]] computes: explode each document's
    * selected hashes, drop stop-hashes (seen in > [[WinnowStopDocs]]
    * docs), self-join on the hash value (a banded equi-join — candidate
    * pairs only ever meet through a shared selected hash, never an
    * all-pairs product), and report pairs sharing ≥ [[WinnowMinShared]]
    * selected hashes. The winnowing guarantee makes this a substring
    * detector: any shared run of ≥ k+w−1 chars contributes ≥ 1 shared
    * selected hash, so heavy overlap ⇒ high shared count. Beside the
    * raw count, each pair reports MOSS's actual triage signal: the
    * FRACTION of each side's sketch that matched (`cov_a`/`cov_b` =
    * n_shared / sketch size) — a 10-hash overlap means something
    * different for a 12-hash snippet (near-total containment) than for
    * a 4000-hash report, and the asymmetry tells containment direction.
    * The denominators are the full per-doc sketch sizes (pre
    * stop-hash pruning): one extra count per doc on the checkpointed
    * selection and two joins against a |docs|-row side — nothing new
    * at scale.
    */
  def winnowPairs(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // the exploded selection feeds three plan legs (stop-hash counts +
    // both self-join sides); eager localCheckpoint runs the kernel over
    // the corpus ONCE instead of three times. Measured at sf0.1 the win
    // is small (1.48 → 1.43 s — the join+agg dominates, and writing the
    // 0.4M-row selection costs about what two kernel passes save), but
    // the selection is ~100× smaller than the corpus, so at real scale
    // one corpus read versus three is the difference that matters.
    val sel = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(expr(s"winnow_select(text, $WinK, $WinW)")).as("h"))
      .localCheckpoint(true)
    val keep = sel.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") <= WinnowStopDocs)
      .select("h")
    val sizes = sel.groupBy("doc_id").agg(count(lit(1)).as("n_sel"))
    val pruned = sel.join(keep, "h")
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .join(sizes.select(col("doc_id").as("doc_a"),
        col("n_sel").as("n_sel_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"),
        col("n_sel").as("n_sel_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_sel_a"), 4)
          .as("cov_a"),
        round(col("n_shared").cast("double") / col("n_sel_b"), 4)
          .as("cov_b"))
      .orderBy("doc_a", "doc_b")
  }

  val winnowPairsSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, length(text) - $WinK + 1 AS gl,
       |    CASE WHEN length(text) - $WinK + 1 >= 1 THEN
       |      list_transform(generate_series(1, length(text) - $WinK + 1),
       |        i -> list_reduce(
       |          list_prepend(CAST(0 AS BIGINT),
       |            list_transform(generate_series(i, i + ${WinK - 1}),
       |              j -> CAST(ord(substr(text, j, 1)) AS BIGINT))),
       |          (h, c) -> (h * 31 + c) % 2147483647))
       |    ELSE [] END AS grams
       |  FROM documents),
       |w AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(grams) >= 1 THEN
       |      list_transform(
       |        generate_series(1, greatest(len(grams) - $WinW + 1, 1)),
       |        j -> list_min(grams[j : j + ${WinW - 1}]))
       |    ELSE [] END) AS sel
       |  FROM g),
       |s AS (SELECT doc_id, unnest(sel) AS h FROM w),
       |sz AS (SELECT doc_id, len(sel) AS n_sel FROM w),
       |keep AS (
       |  SELECT h FROM s GROUP BY h
       |  HAVING count(DISTINCT doc_id) <= $WinnowStopDocs),
       |p AS (SELECT s.doc_id, s.h FROM s JOIN keep USING (h))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  count(*) AS n_shared,
       |  round(CAST(count(*) AS DOUBLE) / sa.n_sel, 4) AS cov_a,
       |  round(CAST(count(*) AS DOUBLE) / sb.n_sel, 4) AS cov_b
       |FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
       |  JOIN sz sa ON sa.doc_id = a.doc_id
       |  JOIN sz sb ON sb.doc_id = b.doc_id
       |GROUP BY a.doc_id, b.doc_id, sa.n_sel, sb.n_sel
       |HAVING count(*) >= $WinnowMinShared
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------------- //
  // Normalized exact dedup — canonicalize before hashing (lowercase,     //
  // strip punctuation, collapse whitespace): catches the trivial         //
  // reformattings (case, smart quotes, double spaces) that byte-exact    //
  // dedup misses but near-dup LSH is overkill for.                       //
  // -------------------------------------------------------------------- //

  /** Exact dedup over the canonical text form: same digest-shuffle plan
    * as [[dedupExact]] (one map-side-combinable groupBy on a 64-hex
    * key), the normalization entirely per-row. Emits one row per
    * canonical group with the kept doc (min id) and the group size.
    */
  def dedupNormalized(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .withColumn("norm_hash", sha2(trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
        " +", " ")), 256))
      .groupBy("norm_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("norm_hash")

  val dedupNormalizedSql: String =
    """SELECT sha256(trim(regexp_replace(
      |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |    ' +', ' ', 'g'))) AS norm_hash,
      |  min(doc_id) AS keep_id, count(*) AS dup_count
      |FROM documents GROUP BY norm_hash ORDER BY norm_hash""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "docs_domain_cap" -> domainCap,
    "docs_group_sample" -> groupSample,
    "docs_blocklist_filter" -> blocklistFilter,
    "docs_train_order" -> trainOrder,
    "docs_train_order_ranged" -> trainOrder,
    "docs_curriculum_order" -> curriculumOrder,
    "docs_curriculum_order_ranged" -> curriculumOrder,
    "docs_length_batching" -> lengthBatching,
    "docs_phrase_search" -> phraseSearch,
    "docs_phrase3_indexed" -> phrase3Indexed,
    "docs_inverted_index" -> invertedIndex,
    "docs_decontaminate" -> decontaminate,
    "docs_pii_scrub" -> piiScrub,
    "docs_repetition_filter" -> repetitionFilter,
    "docs_dedup_exact" -> dedupExact,
    "docs_dedup_normalized" -> dedupNormalized,
    "docs_chunk_overlap" -> chunkOverlap,
    "docs_chunk_dedup" -> chunkDedup,
    "docs_winnowing" -> winnowing,
    "docs_winnow_pairs" -> winnowPairs,
    "docs_token_stats" -> tokenStats,
    "docs_token_bpe" -> tokenBpe,
    "docs_quality" -> qualityScore,
    "docs_quality_quantile" -> qualityQuantileFilter,
    "docs_lang_id" -> langId,
    "docs_fingerprint" -> fingerprint,
    "docs_rolling_hash" -> rollingHash,
    "docs_minhash_neardup" -> minhashNearDup,
    "docs_neardup_indexed" -> neardupIndexed,
    "docs_neardup_reindexed" -> neardupReindexed,
    "docs_neardup_probe" -> neardupProbe,
    "docs_neardup_clusters" -> neardupClusters,
    "docs_neardup_keep_best" -> neardupKeepBest,
    "docs_bpe_merges" -> bpeMerges,
    "docs_bpe_vocab" -> bpeVocab,
    "docs_bpe_tokenize" -> bpeTokenize,
    "docs_simhash" -> simhash,
    "docs_simhash_pairs" -> simhashPairs,
    "docs_containment_pairs" -> containmentPairs,
    "docs_containment_prefix" -> containmentPrefixPairs,
    "docs_ngram_jaccard" -> ngramJaccard,
    "docs_bm25_topk" -> bm25Topk,
    "docs_bm25_indexed" -> bm25Indexed,
    "docs_bm25_indexed_deleted" -> bm25IndexedDeleted,
    "docs_bm25_compacted" -> bm25Compacted,
    "docs_bm25_reindexed" -> bm25Reindexed,
    "docs_bm25_reindex_compacted" -> bm25ReindexCompacted,
    "docs_phrase_indexed" -> phraseIndexed,
    "docs_hash_split" -> hashSplit,
    "docs_token_packing" -> tokenPacking,
    "docs_pack_segments" -> packSegments,
    "docs_token_packing_sharded" -> tokenPackingSharded,
    "docs_pack_segments_sharded" -> packSegmentsSharded,
    "docs_ngram_topk" -> ngramTopk,
    "docs_tfidf_topk" -> tfidfTopk,
    "docs_stratified_sample" -> stratifiedSample,
    "docs_source_mixing" -> sourceMixing,
    "docs_temperature_mix" -> temperatureMix,
    "docs_epoch_plan" -> epochPlan,
    "docs_dup_spans" -> dupSpans,
    "docs_span_scrub" -> spanScrub,
    "docs_span_scrub_minlen" -> spanScrubMinLen,
    "docs_dup_regions" -> dupRegions,
    "docs_exact_substrings" -> exactSubstrings,
    "docs_quality_dup_calibration" -> qualityDupCalibration,
    "docs_anneal_mix" -> annealMix,
    "docs_lm_familiarity" -> lmFamiliarity,
    "docs_ppl_buckets" -> pplBuckets,
    "docs_source_kl" -> sourceKl,
    "docs_source_overlap" -> sourceOverlap,
    "docs_source_chunk_overlap" -> sourceChunkOverlap,
    "docs_source_neardup_overlap" -> sourceNearDupOverlap,
    "docs_data_card" -> dataCard,
    "docs_minhash_recall" -> minhashRecall,
    "docs_curation_pipeline" -> curationPipeline)

  def oracleSql: Map[String, String] = Map(
    "docs_domain_cap" -> domainCapSql,
    "docs_group_sample" -> groupSampleSql,
    "docs_blocklist_filter" -> blocklistFilterSql,
    "docs_train_order" -> trainOrderSql,
    // the range-partitioned scale form must reproduce the global
    // window's positions bit-for-bit
    "docs_train_order_ranged" -> trainOrderSql,
    "docs_curriculum_order" -> curriculumOrderSql,
    "docs_curriculum_order_ranged" -> curriculumOrderSql,
    "docs_length_batching" -> lengthBatchingSql,
    "docs_phrase_search" -> phraseSearchSql,
    "docs_phrase3_indexed" -> phrase3IndexedSql,
    "docs_inverted_index" -> invertedIndexSql,
    "docs_decontaminate" -> decontaminateSql,
    "docs_pii_scrub" -> piiScrubSql,
    "docs_repetition_filter" -> repetitionFilterSql,
    "docs_dedup_exact" -> dedupExactSql,
    "docs_dedup_normalized" -> dedupNormalizedSql,
    "docs_chunk_overlap" -> chunkOverlapSql,
    "docs_chunk_dedup" -> chunkDedupSql,
    "docs_winnowing" -> winnowingSql,
    "docs_winnow_pairs" -> winnowPairsSql,
    "docs_token_stats" -> tokenStatsSql,
    "docs_token_bpe" -> tokenBpeSql,
    "docs_quality" -> qualityScoreSql,
    "docs_quality_quantile" -> qualityQuantileFilterSql,
    "docs_lang_id" -> langIdSql,
    "docs_fingerprint" -> fingerprintSql,
    "docs_rolling_hash" -> rollingHashSql,
    "docs_minhash_neardup" -> minhashNearDupSql,
    // index-served twin must reproduce the batch pair set exactly
    "docs_neardup_indexed" -> minhashNearDupSql,
    "docs_neardup_reindexed" -> neardupReindexedSql,
    "docs_neardup_probe" -> neardupProbeSql,
    "docs_neardup_clusters" -> neardupClustersSql,
    "docs_neardup_keep_best" -> neardupKeepBestSql,
    "docs_bpe_merges" -> bpeMergesSql,
    "docs_bpe_vocab" -> bpeVocabSql,
    "docs_bpe_tokenize" -> bpeTokenizeSql,
    "docs_simhash" -> simhashSql,
    "docs_simhash_pairs" -> simhashPairsSql,
    "docs_containment_pairs" -> containmentPairsSql,
    // the prefix-filtered twin is lossless — identical output, same oracle
    "docs_containment_prefix" -> containmentPairsSql,
    "docs_ngram_jaccard" -> ngramJaccardSql,
    "docs_bm25_topk" -> bm25TopkSql,
    "docs_bm25_indexed" -> bm25TopkSql,
    "docs_bm25_indexed_deleted" -> bm25TopkDeletedSql,
    "docs_bm25_compacted" -> bm25TopkDeletedSql,
    // the compacted twin is lossless — identical output, same oracle
    "docs_bm25_reindexed" -> bm25TopkReindexedSql,
    "docs_bm25_reindex_compacted" -> bm25TopkReindexedSql,
    "docs_phrase_indexed" -> phraseSearchSql,
    "docs_hash_split" -> hashSplitSql,
    "docs_token_packing" -> tokenPackingSql,
    "docs_pack_segments" -> packSegmentsSql,
    "docs_token_packing_sharded" -> tokenPackingShardedSql,
    "docs_pack_segments_sharded" -> packSegmentsShardedSql,
    "docs_ngram_topk" -> ngramTopkSql,
    "docs_tfidf_topk" -> tfidfTopkSql,
    "docs_stratified_sample" -> stratifiedSampleSql,
    "docs_source_mixing" -> sourceMixingSql,
    "docs_temperature_mix" -> temperatureMixSql,
    "docs_epoch_plan" -> epochPlanSql,
    "docs_dup_spans" -> dupSpansSql,
    "docs_span_scrub" -> spanScrubSql,
    "docs_span_scrub_minlen" -> spanScrubMinLenSql,
    "docs_dup_regions" -> dupRegionsSql,
    "docs_exact_substrings" -> exactSubstringsSql,
    "docs_quality_dup_calibration" -> qualityDupCalibrationSql,
    "docs_anneal_mix" -> annealMixSql,
    "docs_lm_familiarity" -> lmFamiliaritySql,
    "docs_ppl_buckets" -> pplBucketsSql,
    "docs_source_kl" -> sourceKlSql,
    "docs_source_overlap" -> sourceOverlapSql,
    "docs_source_chunk_overlap" -> sourceChunkOverlapSql,
    "docs_source_neardup_overlap" -> sourceNearDupOverlapSql,
    "docs_data_card" -> dataCardSql,
    "docs_minhash_recall" -> minhashRecallSql,
    "docs_curation_pipeline" -> curationPipelineSql)
}
