package graft

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.functions._

/** Pins the scale-gate dump shape (r13 verdict #1): the comparator is
  * an order-insensitive digest, so [[ScaleGate.stripTopSort]] must (a)
  * remove a trailing global Sort — the k=1000 dumps previously funneled
  * a 600M-row range exchange into one task and ENOSPC'd — while (b)
  * preserving the row multiset exactly and (c) leaving interior sorts
  * (window semantics) untouched. It also pins that the cross-join
  * replica builder [[ScaleGate.materialize]] emits EXACTLY the row
  * multiset the original k-way-union form produced, so the k=10/k=100
  * decade history (PERF.md tables) stays comparable after the k=1000
  * rewrite; the union form lives here as the reference shape.
  */
class ScaleGateSpec extends SparkSpecBase {

  import testImplicits._
  private object testImplicits { val s = spark; import s.implicits._
    implicit class Seqs(v: Seq[(Int, String)]) { def df = v.toDF("k", "v") }
  }

  private def physicalSorts(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect { case s: SortExec => s }.size

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("trailing orderBy is stripped; row multiset unchanged") {
    val base = Seq((3, "c"), (1, "a"), (2, "b")).df
    val q = base.groupBy("v").agg(sum("k").as("s")).orderBy("v")
    val stripped = ScaleGate.stripTopSort(q)
    assert(physicalSorts(stripped) == 0)
    assert(rows(stripped) == rows(q))
  }

  test("select-after-orderBy (Project over Sort) is stripped too") {
    val base = Seq((3, "c"), (1, "a"), (2, "b")).df
    val q = base.orderBy(col("k").desc).select(col("v"), (col("k") * 2).as("k2"))
    val stripped = ScaleGate.stripTopSort(q)
    assert(physicalSorts(stripped) == 0)
    assert(rows(stripped) == rows(q))
  }

  test("interior sorts (window frames) survive the strip") {
    import org.apache.spark.sql.expressions.Window
    val base = Seq((3, "a"), (1, "a"), (2, "b")).df
    val q = base
      .withColumn("rn",
        row_number().over(Window.partitionBy("v").orderBy("k")))
      .orderBy("v", "rn")
    val stripped = ScaleGate.stripTopSort(q)
    // the window's required sort stays; only the global trailing one
    // goes (executedPlan may satisfy the window sort locally)
    assert(rows(stripped) == rows(q))
    assert(stripped.queryExecution.optimizedPlan.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort
        if s.global => s
    }.isEmpty)
  }

  test("a plan with no trailing sort passes through untouched") {
    val base = Seq((1, "a"), (2, "b")).df
    val q = base.groupBy("v").agg(count(lit(1)).as("n"))
    assert(ScaleGate.stripTopSort(q) eq q)
  }

  test("sharded dump forms: the union of all shards equals the full " +
      "query row-for-row") {
    val sf = "/root/testdata/sf0.001"
    val n = 3
    ScaleGate.shardedForms.foreach { case (name, form) =>
      val full = SparkEntry.queries(name)(spark, sf)
      val shardUnion = (0 until n).map(i => form(spark, sf, i, n))
        .reduce(_.unionByName(_))
      assert(shardUnion.columns.toSeq == full.columns.toSeq, name)
      assert(rows(shardUnion) == rows(full),
        s"$name: shard union != full result")
    }
  }

  test("every gated query has an oracle; bucket keys name gate rows") {
    val qs = SparkEntry.queries
    val os = SparkEntry.oracleSql
    ScaleGate.gated.foreach { n =>
      assert(qs.contains(n), s"gated query $n not in SparkEntry.queries")
      assert(os.contains(n), s"gated query $n has no oracle")
    }
    ScaleGate.bucketKeys.keys.foreach(n =>
      assert(ScaleGate.gated.contains(n),
        s"bucket key for $n names a non-gated query"))
  }

  test("bucket injection sites name a real CTE of a gated, bucketed " +
      "query's oracle") {
    ScaleGate.bucketSites.foreach { case (q, site) =>
      assert(ScaleGate.gated.contains(q),
        s"bucket site for $q names a non-gated query")
      assert(ScaleGate.bucketKeys.contains(q),
        s"bucket site for $q has no bucket key to inject")
      val sql = SparkEntry.oracleSql(q)
      // the comparator rewrites `site AS (` textually — the CTE must
      // exist under exactly that name or the injection silently falls
      // back to the output-level slice (correct but window-unpushed)
      assert(sql.matches(s"(?s).*\\b$site\\s+AS\\s*\\(.*"),
        s"$q: oracle has no CTE named $site")
    }
  }

  test("replica reuse refuses a k mismatch (and a markerless replica)") {
    val dir = java.nio.file.Files.createTempDirectory("replica-k")
    try {
      // markerless (pre-r16) replica: refused — can't verify identity
      val e0 = intercept[IllegalArgumentException] {
        ScaleGate.requireReplicaK(dir, 1000)
      }
      assert(e0.getMessage.contains("no replica_k marker"))
      java.nio.file.Files.writeString(dir.resolve("replica_k"), "10\n")
      ScaleGate.requireReplicaK(dir, 10) // matching k: fine
      val e1 = intercept[IllegalArgumentException] {
        ScaleGate.requireReplicaK(dir, 1000)
      }
      assert(e1.getMessage.contains("k=10") &&
        e1.getMessage.contains("k=1000"))
    } finally {
      java.nio.file.Files.deleteIfExists(dir.resolve("replica_k"))
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("bucket keys are real output columns of their query") {
    // resolved at sf0.001 (cheap schemas; no query executes — schema
    // derivation is lazy)
    val qs = SparkEntry.queries
    ScaleGate.bucketKeys.foreach { case (n, key) =>
      val cols = qs(n)(spark, "/root/testdata/sf0.001").columns.toSeq
      assert(cols.contains(key),
        s"$n: bucket key $key not in output columns $cols")
    }
  }

  private def unionCopies(df: org.apache.spark.sql.DataFrame, k: Int,
      f: (org.apache.spark.sql.DataFrame, Int) =>
        org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    (0 until k).map(i => f(df, i)).reduce(_.unionAll(_))

  test("cross-join replica == union replica for every scaled table") {
    val src = "/root/testdata/sf0.001"
    val k = 3
    val dst = java.nio.file.Files.createTempDirectory("scalegatespec")
    ScaleGate.materialize(spark, src, k, dst)

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val shift = spark.read.parquet(s"$src/orders.parquet")
      .agg(max("o_orderkey")).head().getLong(0) + 1
    assert(rows(spark.read.parquet(s"$dst/lineitem.parquet")) ==
      rows(unionCopies(li, k, (d, i) => d.withColumn("l_orderkey",
        col("l_orderkey") + lit(i * shift)))))

    // orders went through the same copies() rewrite as lineitem and
    // shares its shift (disjoint o_orderkey ranges per copy)
    val ord = spark.read.parquet(s"$src/orders.parquet")
    assert(rows(spark.read.parquet(s"$dst/orders.parquet")) ==
      rows(unionCopies(ord, k, (d, i) => d.withColumn("o_orderkey",
        col("o_orderkey") + lit(i * shift)))))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docShift = docs.agg(max("doc_id")).head().getLong(0) + 1
    // copy 0 unprefixed (term-addressed serving rows need real hits);
    // prefixed copies i>0 keep the shingle spaces pairwise disjoint
    assert(rows(spark.read.parquet(s"$dst/documents.parquet")) ==
      rows(unionCopies(docs, k, (d, i) => d
        .withColumn("doc_id", col("doc_id") + lit(i * docShift))
        .withColumn("text", if (i == 0) col("text") else array_join(
          transform(split(col("text"), " "),
            t => concat(lit(s"c${i}_"), t)), " "))
        .withColumn("n_chars", length(col("text"))))))

    val ev = spark.read.parquet(s"$src/events.parquet")
    val evShift = ev.agg(max("event_id")).head().getLong(0) + 1
    val userShift = ev.agg(max("user_id")).head().getLong(0) + 1
    assert(rows(spark.read.parquet(s"$dst/events.parquet")) ==
      rows(unionCopies(ev, k, (d, i) => d
        .withColumn("event_id", col("event_id") + lit(i * evShift))
        .withColumn("user_id", col("user_id") + lit(i * userShift)))))

    Bench.rm(dst)
  }
}
