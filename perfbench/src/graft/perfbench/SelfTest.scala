package graft.perfbench

import java.nio.file.Path

/** Determinism self-test: the seed alone fixes the tree, the churn
  * sequence and the query order. Builds a small tree on disk twice with
  * one seed and once with another, applies two churn batches to each,
  * and compares manifest digests. Returns the process exit code.
  */
object SelfTest {
  private def build(work: Path, name: String, seed: Long): (String, String) = {
    val root = work.resolve(name)
    val t = Tree.generate(seed, 2000)
    t.write(root, 2)
    val fresh = t.digest
    (1 to 2).foreach(op => t.churn(root, op, Main.ChurnFrac))
    (fresh, t.digest)
  }

  def run(work: Path): Int = {
    val a1 = build(work, "a1", 1L)
    val a2 = build(work, "a2", 1L)
    val b = build(work, "b", 2L)
    val checks = Seq(
      "same seed, same tree" -> (a1._1 == a2._1),
      "same seed, same churn sequence" -> (a1._2 == a2._2),
      "other seed, other tree" -> (a1._1 != b._1),
      "churn changes the tree" -> (a1._1 != a1._2),
      "same seed, same query order" ->
        (Main.queryOrder(1L, 1) == Main.queryOrder(1L, 1)),
      "other seed, other query order" ->
        (Main.queryOrder(1L, 1) != Main.queryOrder(2L, 1)),
      "passes shuffle differently" ->
        (Main.queryOrder(1L, 1) != Main.queryOrder(1L, 2)))
    println(s"[perfbench] seed 1 tree digest ${a1._1}")
    println(s"[perfbench] seed 1 tree digest after 2 churns ${a1._2}")
    println(s"[perfbench] seed 2 tree digest ${b._1}")
    checks.foreach { case (what, ok) =>
      println(s"[perfbench] ${if (ok) "PASS" else "FAIL"} $what") }
    if (checks.forall(_._2)) 0 else 1
  }
}
