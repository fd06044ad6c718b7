package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The TPC-H-ish star schema plus the `events`, `documents` and
  * `embeddings` tables that the headline queries read, generated from
  * a fixed seed at a given scale factor (sf 1 ≈ 6M lineitem rows).
  *
  * Same table names, columns and types as the test-data generator's
  * tables, and the same value domains, so every query has real joins,
  * filters, near-duplicates and clusters to work on. Every value is a
  * hash of (table, row key, column), so the content does not depend on
  * partitioning and the pinned query checksums hold on any machine.
  */
object SfData {
  /** Tables of at least `SmallRows` rows are generated and written as
    * `Parts` files, as `graft.Bench` reshards its inputs (it uses 32 for
    * 32 cores; at sf 0.01 more files only add set-up time).
    */
  private val Parts = 4
  private val SmallRows = 5000L

  private def rows(spark: SparkSession, n: Long) =
    spark.range(0, n, 1, if (n >= SmallRows) Parts else 1)

  /** Uniform double in [0, 1) from (salt, key). */
  private def u(salt: String, key: Column*): Column =
    pmod(xxhash64((lit(salt) +: key): _*), lit(1000000007L))
      .cast("double") / 1000000007.0

  /** Uniform long in [0, n). */
  private def nat(salt: String, n: Long, key: Column*): Column =
    (u(salt, key: _*) * n).cast("long")

  private def pick(salt: String, xs: Seq[String], key: Column*): Column =
    element_at(typedLit(xs), nat(salt, xs.size.toLong, key: _*).cast("int") + 1)

  private val Words = Seq("spark", "batch", "stream", "query", "scan",
    "sort", "hash", "join", "group", "agg", "filter", "window", "merge",
    "table", "column", "row", "key", "value", "data", "vector", "part",
    "order", "line", "customer", "fast", "slow", "big", "small", "the",
    "a")

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def n(base: Long) = math.max(1L, (base * sf).round)
    val (nCust, nSupp, nPart, nOrd) =
      (n(150000), n(10000), n(200000), n(1500000))
    val (nEvents, nDocs, nVecs) = (n(1000000), n(50000), n(20000))
    val id = col("id")

    val region = rows(spark, 5).select(id.cast("int").as("r_regionkey"),
      element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST")), id.cast("int") + 1).as("r_name"))
    val nation = rows(spark, 25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
    val customer = rows(spark, nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      nat("c.n", 25, id).cast("int").as("c_nationkey"),
      round(u("c.b", id) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick("c.s", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY"), id).as("c_mktsegment"))
    val supplier = rows(spark, nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      nat("s.n", 25, id).cast("int").as("s_nationkey"),
      round(u("s.b", id) * 10999.99 - 999.99, 2).as("s_acctbal"))
    val part = rows(spark, nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick("p.c", Seq("blue", "red", "hot", "large",
        "green", "dark"), id), pick("p.o", Seq("ring", "bolt", "gear",
        "nut", "pipe"), id)).as("p_name"),
      concat(lit("Brand#"), nat("p.b", 25, id) + 1).as("p_brand"),
      pick("p.t", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
        "SMALL", "STANDARD"), id).as("p_type"),
      (nat("p.s", 50, id) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice"))
    val orderDay = (ok: Column) => nat("o.d", 2404, ok)
    // days since 1970-01-01 → midnight timestamps from 1995-01-01
    val day = (d: Column) => timestamp_seconds((lit(9131L) + d) * 86400L)
    val orders = rows(spark, nOrd).select(id.as("o_orderkey"),
      nat("o.c", nCust, id).as("o_custkey"),
      pick("o.s", Seq("F", "O", "P"), id).as("o_orderstatus"),
      round(u("o.p", id) * 500000.0, 2).as("o_totalprice"),
      day(orderDay(id)).as("o_orderdate"),
      pick("o.r", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW"), id).as("o_orderpriority"))
    // 1 to 7 lines per order, 4 on average
    val lines = rows(spark, nOrd)
      .select(id.as("ok"), explode(sequence(lit(1),
        (nat("l.n", 7, id) + 1).cast("int"))).as("ln"))
    val lk = Seq(col("ok"), col("ln"))
    val lineitem = lines.select(col("ok").as("l_orderkey"),
      nat("l.p", nPart, lk: _*).as("l_partkey"),
      nat("l.s", nSupp, lk: _*).as("l_suppkey"),
      col("ln").as("l_linenumber"),
      (nat("l.q", 50, lk: _*) + 1).cast("double").as("l_quantity"),
      round(u("l.e", lk: _*) * 100000.0, 2).as("l_extendedprice"),
      (nat("l.d", 11, lk: _*) / 100.0).as("l_discount"),
      (nat("l.t", 9, lk: _*) / 100.0).as("l_tax"),
      pick("l.r", Seq("A", "N", "R"), lk: _*).as("l_returnflag"),
      pick("l.l", Seq("F", "O"), lk: _*).as("l_linestatus"),
      day(orderDay(col("ok")) + nat("l.sd", 121, lk: _*) + 1)
        .as("l_shipdate"))
    val events = rows(spark, nEvents).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        nat("e.t", 30L * 86400L * 1000000L, id)).as("ts"),
      nat("e.u", math.max(1L, nEvents * 3 / 200), id).as("user_id"),
      pick("e.k", Seq("click", "error", "purchase", "signup",
        "view"), id).as("event_type"),
      round(-log(lit(1.0) - u("e.v", id)) * 40.0, 2).as("value"),
      concat(lit("{\"k\": "), nat("e.p", 100, id), lit("}")).as("props"))
    // one document in ten is a near-copy of its predecessor (every
    // tenth word replaced), one in 625 an exact copy
    val src = when(id % 10 === 1, id - 1).when(id % 625 === 7, id - 7)
      .otherwise(id)
    val words = transform(sequence(lit(1), (nat("d.n", 90, src) + 8)
        .cast("int")), i =>
      when(id % 10 === 1 && pmod(xxhash64(lit("d.x"), id, i), lit(10)) === 0,
        element_at(typedLit(Words), (pmod(xxhash64(lit("d.y"), id, i),
          lit(Words.size.toLong)) + 1).cast("int")))
        .otherwise(element_at(typedLit(Words),
          (pmod(xxhash64(lit("d.w"), src, i), lit(Words.size.toLong)) + 1)
            .cast("int"))))
    val documents = rows(spark, nDocs)
      .select(id.as("doc_id"), array_join(words, " ").as("text"),
        pick("d.l", Seq("en", "en", "en", "de", "es", "fr", "zh"), id)
          .as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // ten labelled clusters in 64 dimensions
    val label = nat("v.l", 10, id)
    val embeddings = rows(spark, nVecs).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((u("v.c", label, j) - 0.5) * 0.6 + (u("v.e", id, j) - 0.5) * 0.2)
          .cast("float")).as("embedding"),
      label.cast("int").as("label"))

    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Write every table under `dir` as `<name>.parquet` (the writes run
    * concurrently), then check in one job that each table read back has
    * the order-independent checksum (`graft.Bench`'s) of the rows that
    * were written. The read-back goes through `graft.Tables`, the loader
    * every query reads its inputs with, so its table frames are built
    * here. Returns the lineitem row count.
    */
  def write(spark: SparkSession, dir: String, sf: Double): Long = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    def rowHash(df: DataFrame) =
      xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))
    val written = tables(spark, sf).map { case (name, df) =>
      Future {
        val obs = org.apache.spark.sql.Observation(name)
        df.observe(obs, count(lit(1)).as("rows"),
          bit_xor(rowHash(df)).as("sum")).write.parquet(s"$dir/$name.parquet")
        val m = obs.get
        name -> (m("rows").asInstanceOf[Long],
          Option(m("sum")).fold(0L)(_.asInstanceOf[Long]))
      }
    }
    val want = Await.result(Future.sequence(written), Duration.Inf).toMap
    val got = want.keys.map { name =>
      val df = graft.Tables(spark, dir, name)
      df.select(lit(name).as("t"), rowHash(df).as("h"))
    }.reduce(_ union _).groupBy("t").agg(bit_xor(col("h")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    want.foreach { case (name, (_, sum)) =>
      require(got.get(name).contains(sum),
        s"staged $name differs: $sum != ${got.get(name)}")
    }
    want("lineitem")._1
  }
}
