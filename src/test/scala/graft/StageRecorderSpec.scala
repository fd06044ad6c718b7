package graft

import org.apache.spark.sql.functions.{broadcast, col}

/** The stage recorder behind Bench, QueryTime and ScaleGate: after the
  * window settles, an exchange's shuffle write is read back in full, a
  * map-only job moves nothing, and every stage carries the description
  * of the job that ran it — also the stages adaptive execution submits
  * from its own threads.
  */
class StageRecorderSpec extends SparkSpecBase {

  private def labelled[A](label: String)(body: => A): A = {
    spark.sparkContext.setJobDescription(label)
    try body finally spark.sparkContext.setJobDescription(null)
  }

  test("an exchange writes what it reads, a map-only job moves nothing, " +
      "and every stage carries its job's label") {
    val (exchange, mapOnly) = ("recorder spec: exchange",
      "recorder spec: map-only")
    val (_, rows) = StageRecorder.recording(spark) {
      labelled(exchange) {
        spark.range(0, 20000, 1, 4).groupBy(col("id") % 10).count()
          .collect()
      }
      labelled(mapOnly) {
        spark.range(0, 20000, 1, 4).filter(col("id") % 3 === 0).collect()
      }
    }
    val ex = rows.filter(_.job == exchange)
    val mo = rows.filter(_.job == mapOnly)
    assert(ex.nonEmpty && mo.nonEmpty, rows.mkString("\n"))
    assert(ex.size + mo.size == rows.size,
      s"unlabelled stages:\n${rows.mkString("\n")}")
    val Seq(read, write, spill) = StageRecorder.moved(ex)
    assert(write > 0 && read == write && spill == 0, ex.mkString("\n"))
    assert(StageRecorder.moved(mo) == Seq(0L, 0L, 0L), mo.mkString("\n"))
    assert(rows.forall(_.tasks > 0), rows)
  }

  test("a timed query run labels every stage it runs with the query " +
      "name, and restores the caller's label") {
    val q = "recorder spec: query"
    // an exchange and a broadcast join: adaptive execution submits
    // their stages from its own threads
    def query = spark.range(0, 20000, 1, 4).groupBy(col("id") % 100)
      .count().toDF("k", "n")
      .join(broadcast(spark.range(0, 50).toDF("k")), "k")
    val (_, _, _, stages, _) = Bench.timedMinOf2(spark, q,
      () => Bench.checksum(query))
    assert(stages.nonEmpty && stages.forall(_.job == q),
      StageRecorder.table(stages).mkString("\n"))
    assert(spark.sparkContext.getLocalProperty("spark.job.description")
      == null)
  }
}
