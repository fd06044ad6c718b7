package graft

import org.apache.spark.SparkConf

import graft.functions.GraftExtensions

/** graft sessions compile each generated class once per JVM: the
  * codegen cache is sized above the query catalogue's working set and
  * class names carry no stage id, so a session that cycles through its
  * queries reuses the classes its earlier queries compiled.
  */
class CodegenReuseSpec extends SparkSpecBase {

  private val CacheKey = "spark.sql.codegen.cache.maxEntries"
  private val IdKey = "spark.sql.codegen.useIdInClassName"

  /** Classes a second pass over [[Bench.headline]] may compile once a
    * first pass, in the other order, ran every query (0 measured; 210
    * with Spark's codegen defaults, against 308 in the first pass).
    */
  private val SecondPassCompiles = 4L

  test("the shared session carries graft's codegen defaults") {
    assert(spark.conf.get(CacheKey) ==
      GraftExtensions.CodegenCacheEntries.toString)
    assert(spark.conf.get(IdKey) == "false")
  }

  test("a codegen conf the user already set wins over graft's default") {
    val mine = new SparkConf(false).set(CacheKey, "7").set(IdKey, "true")
    GraftExtensions.codegenDefaults(mine)
    assert(mine.get(CacheKey) == "7" && mine.get(IdKey) == "true")
    val unset = new SparkConf(false)
    GraftExtensions.codegenDefaults(unset)
    assert(unset.get(CacheKey) ==
      GraftExtensions.CodegenCacheEntries.toString)
    assert(unset.get(IdKey) == "false")
  }

  test("a second pass over the headline queries, in another order, " +
      "reuses the first pass's compiled classes") {
    val sf = "/root/testdata/sf0.001"
    def pass(order: Seq[String]): Long = {
      val c0 = Bench.compiles
      order.foreach(q => Bench.checksum(SparkEntry.queries(q)(spark, sf)))
      Bench.compiles - c0
    }
    val first = pass(Bench.headline)
    val second = pass(Bench.headline.reverse)
    assert(second <= SecondPassCompiles,
      s"first pass compiled $first classes, the second $second")
  }
}
