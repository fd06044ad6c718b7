package graft

/** Single-query timing harness: `graft.QueryTime <query> [sfDir]` —
  * literally [[Bench]]'s session, checksum, and warmup+min-of-2 timing
  * (shared helpers, not a copy) for one named query, so optimization
  * experiments measure exactly one plan without the full headline run.
  * Prints the last timed run's stage table — each stage's wall clock,
  * task run/CPU/GC time, shuffle read/write and spill MB, tagged with
  * its callsite and with the query name as its job label: the "which
  * operator owns the seconds" question every optimization here starts
  * from — and then one JSON line whose `move_mb` is that table's
  * column sums and whose `compiles` counts the classes code generation
  * compiled during that run.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.QueryTime <query> [sfDir]")
    val name = args(0)
    val sfDir =
      if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.buildSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query: $name (known: " +
        s"${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})"))
    // same input staging as Bench (default ON) so a single-query
    // re-measure is comparable to the bench line it adjudicates;
    // SPARK_GRAFT_BENCH_RESHARD=0 times the raw single-file inputs
    val reshard = !sys.env.get("SPARK_GRAFT_BENCH_RESHARD").contains("0")
    // degrade to raw inputs on staging failure, exactly like Bench — an
    // adjudication run must not crash where the bench it checks survived
    val dir =
      if (reshard) {
        try Bench.stageResharded(spark, sfDir)._1 catch {
          case e: Throwable =>
            System.err.println(
              s"[querytime] staging failed, using raw inputs: ${e.getMessage}")
            sfDir
        }
      } else sfDir
    val (sec, chk, runs, stages, compiled) = Bench.timedMinOf2(spark, name,
      () => Bench.checksum(fn(spark, dir)))
    StageRecorder.table(stages).foreach(println)
    val rj = runs.map("%.3f".format(_)).mkString("[", ",", "]")
    val mj = StageRecorder.moved(stages)
      .map(b => "%.1f".format(b / 1048576.0)).mkString("[", ",", "]")
    println(f"""{"query":"$name","sec":$sec%.3f,"runs":$rj,"move_mb":$mj,"compiles":$compiled,"checksum":$chk,"resharded":${dir != sfDir},"sf":"$sfDir"}""")
    if (dir != sfDir) Bench.rm(java.nio.file.Paths.get(dir))
    spark.stop()
  }
}
