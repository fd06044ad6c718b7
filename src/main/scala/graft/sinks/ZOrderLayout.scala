package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) file layout: co-clusters TWO numeric columns
  * into the same files so parquet min/max statistics prune reads for
  * predicates on EITHER column — the layout-level complement of
  * [[ParquetIndex]]'s first-segment partition pruning (which serves one
  * key; this serves two with one copy of the data).
  *
  * A linear sort on column A gives perfect A-spans but every file
  * carries the FULL range of B, so B-predicates scan everything.
  * Interleaving the bits of both columns' 16-bit quantized positions
  * makes each written file cover a small square of the (A, B) plane:
  * both columns' per-file spans shrink to ~sqrt(files) of the range,
  * and parquet row-group skipping (or a file-stats manifest at the
  * table level) turns either predicate into a pruned read. At 100 TB
  * this is the difference between "fast lookups on the sort key only"
  * and "fast lookups on both of size and mtime" for one storage cost.
  *
  * The z-value is a pure codegen'd column expression (shift/mask/or
  * chain — no UDF); the layout pass is one range repartition + local
  * sort on it, i.e. exactly the cost of a global sort on a single
  * derived key.
  */
object ZOrderLayout {

  /** Morton key of two columns quantized to 16-bit positions over
    * [aMin, aMax] × [bMin, bMax] (inclusive ranges, computed by the
    * caller — one tiny agg — so the expression stays literal-only and
    * whole-stage codegen'd). The interleave itself is the NATIVE
    * [[graft.functions.ZOrder2]] Catalyst expression (magic-number bit
    * spread with `doGenCode`), resolved from the function registry —
    * callers outside [[write]] must have run
    * `GraftFunctions.register(spark)` first.
    */
  def zValue(a: Column, b: Column, aMin: Long, aMax: Long,
      bMin: Long, bMax: Long): Column = {
    def quant(c: Column, lo: Long, hi: Long): Column =
      if (hi <= lo) lit(0)
      // 64-bit-safe linear scale to 0..65535 without overflow for any
      // long range: scale in double, clamp, floor
      else least(lit(65535L), greatest(lit(0L),
        floor((c.cast("double") - lit(lo.toDouble)) /
          lit((hi - lo).toDouble) * 65535.0).cast("long"))).cast("int")
    call_function("zorder2", quant(a, aMin, aMax), quant(b, bMin, bMax))
  }

  /** `df` z-ordered on the two long-valued dimensions `a` and `b` into
    * `files` partitions (0 = let the range exchange pick): range-
    * partition on the z-value (even file sizes under skew via range
    * sampling), sort within each partition, no helper column left.
    * Empty input (or an all-null dimension) has no bounds to quantize
    * against and comes back only coalesced.
    */
  def shaped(df: DataFrame, a: Column, b: Column, files: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val bounds = df.agg(
      min(a.cast("long")), max(a.cast("long")),
      min(b.cast("long")), max(b.cast("long"))).collect()(0)
    if (bounds.isNullAt(0) || bounds.isNullAt(2))
      return if (files > 0) df.coalesce(files) else df
    val z = zValue(a.cast("long"), b.cast("long"), bounds.getLong(0),
      bounds.getLong(1), bounds.getLong(2), bounds.getLong(3))
    val keyed = df.withColumn("__z", z)
    (if (files > 0) keyed.repartitionByRange(files, col("__z"))
     else keyed.repartitionByRange(col("__z")))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Write `df` to `dir` z-ordered on (`colA`, `colB`) into `files`
    * files ([[shaped]]).
    */
  def write(df: DataFrame, dir: String, colA: String, colB: String,
      files: Int): Unit =
    shaped(df, col(colA), col(colB), files)
      .write.mode("overwrite").parquet(dir)

  /** Per-file (min, max) spans of `c` in a written layout — the
    * fraction of files a point/range predicate on `c` must read, which
    * is what a table-level stats manifest (or parquet's own row-group
    * stats) prunes by. Diagnostic used by the spec and PERF probes.
    */
  def fileSpans(df: DataFrame, c: String): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(min(col(c)).cast("long").as("lo"),
        max(col(c)).cast("long").as("hi"))

  /** Materialize the per-file min/max manifest of the named long-
    * valued `dims` at `dir/_manifest` (columns `<name>_lo`/`<name>_hi`;
    * underscore prefix = invisible to Spark's file index, the
    * `_delta_log` convention). One narrow scan at write time buys
    * file-level skipping for every later read.
    */
  def writeManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String, dims: Seq[(String, Column)]): Unit = {
    val aggs = dims.flatMap { case (n, c) =>
      Seq(min(c.cast("long")).as(s"${n}_lo"),
        max(c.cast("long")).as(s"${n}_hi"))
    }
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_manifest")
  }

  /** Read `dir` with FILE-LEVEL pruning from its manifest: only files
    * whose span of every dimension overlaps that dimension's [lo, hi]
    * are opened, and the exact row predicate is re-applied on top
    * (span overlap is necessary, not sufficient). The manifest is
    * |files| rows — collecting the surviving paths to the driver is the
    * same plan Delta/Iceberg readers run. `spans` aligns with `dims`; a
    * point predicate is `(v, v)`. Data files are read with `schema`
    * when given, else with the schema inferred from them. Returns the
    * same rows as `read.parquet(dir)` filtered on every range.
    */
  def prunedRead(spark: org.apache.spark.sql.SparkSession, dir: String,
      dims: Seq[(String, Column)], spans: Seq[(Long, Long)],
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    require(spans.size == dims.size, "prunedRead: one span per dimension")
    val ranges = dims.zip(spans)
    val files = spark.read.parquet(s"$dir/_manifest")
      .filter(ranges.map { case ((n, _), (lo, hi)) =>
        col(s"${n}_hi") >= lo && col(s"${n}_lo") <= hi }.reduce(_ && _))
      .select("file").collect().map(_.getString(0))
    val read = schema.fold(spark.read)(spark.read.schema)
    val base =
      if (files.isEmpty) read.parquet(dir).limit(0) // schema-preserving
      else read.parquet(files.toIndexedSeq: _*)
    base.filter(ranges.map { case ((_, c), (lo, hi)) =>
      c.cast("long").between(lo, hi) }.reduce(_ && _))
  }
}
