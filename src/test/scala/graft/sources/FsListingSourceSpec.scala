package graft.sources

import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpecBase
import graft.functions.Globs

/** DataSourceV2 listing source: schema, filter pushdown (visible in the
  * plan AND enforced by pruned recursion), column pruning.
  */
class FsListingSourceSpec extends SparkSpecBase {

  private def mkTree(): Path = {
    val root = Files.createTempDirectory("dsv2")
    Files.createDirectories(root.resolve("a/x"))
    Files.createDirectories(root.resolve("b"))
    Files.writeString(root.resolve("a/f1.txt"), "11")
    Files.writeString(root.resolve("a/x/f2.txt"), "222")
    Files.writeString(root.resolve("b/f3.txt"), "3")
    root
  }

  private def read(root: Path) =
    spark.read.format("fslisting").load(root.toString)

  test("full read lists the tree with the declared schema") {
    val root = mkTree()
    val df = read(root)
    assert(df.schema.fieldNames.toSeq == Seq("filepath", "name",
      "size_bytes", "modified_time", "entry_type", "depth"))
    val got = df.collect().map(_.getAs[String]("filepath")).toSet
    assert(got == Set("/a", "/a/x", "/b", "/a/f1.txt", "/a/x/f2.txt",
      "/b/f3.txt"))
  }

  test("prefix + type filters are pushed and enforced") {
    val root = mkTree()
    val df = read(root)
      .filter(col("filepath").startsWith("/a") &&
        col("entry_type") === "file")
    val got = df.collect().map(_.getAs[String]("filepath")).toSet
    assert(got == Set("/a/f1.txt", "/a/x/f2.txt"))
    // filters reached the scan (rendered by Scan.description) and there
    // is NO post-scan Filter node left — the source enforced them fully
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushedPrefixes=/a"), plan)
    assert(plan.contains("pushedTypes=file"), plan)
    assert(!plan.contains("Filter ("))
  }

  test("multiple pushed conjuncts are ALL enforced, not last-wins") {
    val root = mkTree()
    // /a && /a/x: compatible prefixes — the longer one decides
    val both = read(root)
      .filter(col("filepath").startsWith("/a") &&
        col("filepath").startsWith("/a/x"))
    assert(both.collect().map(_.getAs[String]("filepath")).toSet ==
      Set("/a/x", "/a/x/f2.txt"))
    // /a && /b: contradictory prefixes — zero rows, not "/b wins"
    assert(read(root)
      .filter(col("filepath").startsWith("/a") &&
        col("filepath").startsWith("/b")).count() == 0)
    // file && directory: contradictory type equalities — zero rows
    assert(read(root)
      .filter(col("entry_type") === "file" &&
        col("entry_type") === "directory").count() == 0)
  }

  test("row set shape is independent of tree emptiness (root never emitted)") {
    val empty = Files.createTempDirectory("dsv2empty")
    assert(read(empty).count() == 0) // no phantom "/" row
    val root = mkTree()
    assert(!read(root).collect().map(_.getAs[String]("filepath"))
      .contains("/"))
    // nonexistent root: zero rows, not a phantom file entry
    assert(read(root.resolve("no/such/dir")).count() == 0)
  }

  test("partition planning skips subtrees outside the prefix") {
    val root = mkTree()
    val df = read(root).filter(col("filepath").startsWith("/a"))
    // seeds: only /a survives planInputPartitions pruning
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 4) // /a, /a/x, f1, f2
  }

  test("column pruning reaches the reader") {
    val root = mkTree()
    val df = read(root).select("name")
    assert(df.collect().map(_.getString(0)).toSet ==
      Set("a", "x", "b", "f1.txt", "f2.txt", "f3.txt"))
    // the BatchScan's output is just the pruned column
    assert(df.queryExecution.executedPlan.toString
      .matches("(?s).*BatchScan[^\\n]*\\[name#\\d+\\].*"))
  }

  test("a root that is a file lists zero rows") {
    val f = Files.createTempFile("dsv2file", ".txt")
    Files.writeString(f, "not a tree")
    assert(read(f).count() == 0)
    assert(FsListing.list(spark, f.toString).count() == 0)
  }

  // ---- the walker against a java.nio reference, on random trees ---- //

  private sealed trait Node { def name: String }
  private final case class FileNode(name: String, size: Int) extends Node
  private final case class DirNode(name: String, kids: Seq[Node])
      extends Node

  private val names = Seq("a", "ab", "b", ".h", "x.tmp", "node_modules",
    "c.txt")

  private def nodes(depth: Int): Gen[Seq[Node]] =
    Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, node(depth)))
      .map(_.groupBy(_.name).values.map(_.head).toSeq)

  private def node(depth: Int): Gen[Node] = for {
    name <- Gen.oneOf(names)
    isDir <- if (depth > 0) Gen.oneOf(true, false) else Gen.const(false)
    n <- if (isDir) nodes(depth - 1).map(k => DirNode(name, k): Node)
      else Gen.choose(0, 9).map(sz => FileNode(name, sz): Node)
  } yield n

  private def write(dir: Path, kids: Seq[Node]): Unit = kids.foreach {
    case FileNode(n, sz) => Files.writeString(dir.resolve(n), "x" * sz)
    case DirNode(n, k) =>
      Files.createDirectories(dir.resolve(n)); write(dir.resolve(n), k)
  }

  /** Random tree under a fresh root: a real dir `d` (plus random
    * entries inside and beside it), a sibling symlink `sib` → `d`, and
    * a `ln -s ..` cycle `d/up`.
    */
  private val tree: Gen[Path] = for {
    inD <- nodes(2)
    top <- nodes(2)
  } yield {
    val root = Files.createTempDirectory("walkprop")
    Files.createDirectories(root.resolve("d"))
    write(root.resolve("d"), inD)
    write(root, top.filterNot(n => n.name == "d" || n.name == "sib"))
    Files.createSymbolicLink(root.resolve("sib"), root.resolve("d"))
    Files.createSymbolicLink(root.resolve("d/up"),
      java.nio.file.Paths.get(".."))
    root
  }

  private type Row = (String, String, String, Long, Long, Int)

  /** `Files.walkFileTree` without FOLLOW_LINKS: symlinks arrive as
    * files with their own attributes and are never entered; the root is
    * never emitted; hidden and skip-matched entries prune their
    * subtrees.
    */
  private def model(root: Path, skips: Seq[String],
      hidden: Boolean): Set[Row] = {
    val skip = if (skips.isEmpty) None
      else Some(Globs.skipRegex(skips).r)
    val out = Set.newBuilder[Row]
    def rel(p: Path) = root.relativize(p).toString
    def pruned(p: Path) =
      (!hidden && p.getFileName.toString.startsWith(".")) ||
        skip.exists(_.findFirstIn(rel(p)).isDefined)
    def emit(p: Path, a: BasicFileAttributes, tpe: String): Unit =
      out += (("/" + rel(p), p.getFileName.toString, tpe,
        if (tpe == "directory") 0L else a.size(),
        a.lastModifiedTime().toMillis, rel(p).count(_ == '/') + 1))
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path,
          a: BasicFileAttributes): FileVisitResult =
        if (d == root) FileVisitResult.CONTINUE
        else if (pruned(d)) FileVisitResult.SKIP_SUBTREE
        else { emit(d, a, "directory"); FileVisitResult.CONTINUE }
      override def visitFile(f: Path,
          a: BasicFileAttributes): FileVisitResult = {
        if (!pruned(f)) emit(f, a, "file")
        FileVisitResult.CONTINUE
      }
    })
    out.result()
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.collect().map(r => (r.getAs[String]("filepath"),
      r.getAs[String]("name"), r.getAs[String]("entry_type"),
      r.getAs[Long]("size_bytes"),
      r.getAs[java.sql.Timestamp]("modified_time").getTime,
      r.getAs[Int]("depth"))).toSet

  test("the walk equals a java.nio walkFileTree model, with and " +
      "without a pushed prefix (random trees, fixed seed)") {
    val params = for {
      root <- tree
      skips <- Gen.someOf("*.tmp", "node_modules", "d/a*", "ab")
      hidden <- Gen.oneOf(true, false)
      scope <- Gen.oneOf("d", "d/a", "d/ab", "sib", "sib/a", "a", ".h",
        "d/up", "ab", "zz")
    } yield (root, skips.toSeq, hidden, scope)
    val prop = Prop.forAllNoShrink(params) {
      case (root, skips, hidden, scope) =>
        val all = model(root, skips, hidden)
        val listing = FsListing.list(spark, root.toString, skips, hidden)
        val inScope = col("filepath") === s"/$scope" ||
          col("filepath").startsWith(s"/$scope/")
        val scoped = listing.filter(inScope)
        val plan = scoped.queryExecution.executedPlan.toString
        rows(listing) == all &&
          rows(scoped) == all.filter(r => r._1 == s"/$scope" ||
            r._1.startsWith(s"/$scope/")) &&
          // a bare string prefix keeps string semantics (`/a` ⊇ `/ab`)
          rows(listing.filter(col("filepath").startsWith(s"/$scope"))) ==
            all.filter(_._1.startsWith(s"/$scope")) &&
          // the scope is enforced by the walk itself
          !plan.contains("Filter (")
    }
    val result = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(25).withInitialSeed(Seed(20261017L)), prop)
    assert(result.passed, result.status.toString)
  }
}
