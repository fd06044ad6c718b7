package graft.sources

import java.nio.file.{Files, Path}

import graft.SparkSpecBase

/** Listing-source behavior per the reference's scanner contract
  * (tests/scanner/test_parallel_scanner.py:49-99): skip-pattern
  * exclusion, hidden-file filtering, field contract, subtree pruning.
  */
class FsListingSpec extends SparkSpecBase {

  private def mkTree(): Path = {
    val root = Files.createTempDirectory("fslisting")
    Files.createDirectories(root.resolve("a"))
    Files.createDirectories(root.resolve("b/c"))
    Files.createDirectories(root.resolve(".git"))
    Files.createDirectories(root.resolve("node_modules/pkg"))
    Files.writeString(root.resolve("a/f1.txt"), "hello")
    Files.writeString(root.resolve("a/.hidden.txt"), "shh")
    Files.writeString(root.resolve(".git/config"), "x")
    Files.writeString(root.resolve("node_modules/pkg/x.js"), "x")
    Files.writeString(root.resolve("b/c/f2.tmp"), "tmp")
    Files.writeString(root.resolve("b/f3.log"), "log")
    root
  }

  test("skip patterns and hidden files are pruned during the walk") {
    val root = mkTree()
    val got = FsListing.list(spark, root.toString,
        skipPatterns = Seq(".git", "node_modules", "*.tmp"))
      .collect()
      .map(r => (r.getAs[String]("filepath"), r.getAs[String]("entry_type")))
      .toSet
    assert(got == Set(
      ("/a", "directory"), ("/b", "directory"), ("/b/c", "directory"),
      ("/a/f1.txt", "file"), ("/b/f3.log", "file")))
  }

  test("includeHidden surfaces dot entries") {
    val root = mkTree()
    val got = FsListing.list(spark, root.toString, includeHidden = true)
      .collect().map(_.getAs[String]("filepath")).toSet
    assert(got.contains("/a/.hidden.txt"))
    assert(got.contains("/.git/config"))
  }

  test("decodeBatched drops null blobs instead of failing the task") {
    import spark.implicits._
    val df = Seq((1L, Some("abc".getBytes)), (2L, None))
      .toDF("doc_id", "blob")
    val out = graft.operators.MultimodalOps
      .decodeBatched(df, "doc_id", "blob").collect()
    assert(out.map(_.doc_id).toSeq == Seq(1L))
  }

  test("single-dir batch source caps at batchSize (S6)") {
    val root = mkTree()
    assert(FsListing.listDir(spark, root.toString, 3).count() == 3)
    assert(FsListing.listDir(spark, root.toString, 1000).count() > 3)
  }

  test("symlinked directories are listed but never followed (find -P)") {
    val root = java.nio.file.Files.createTempDirectory("symtree")
    java.nio.file.Files.createDirectories(root.resolve("a"))
    java.nio.file.Files.writeString(root.resolve("a/x.txt"), "xx")
    // sibling symlink: following it would double-index /a as /b/…
    java.nio.file.Files.createSymbolicLink(root.resolve("b"),
      root.resolve("a"))
    // cycle: following it would walk forever
    java.nio.file.Files.createSymbolicLink(root.resolve("a/up"), root)
    val rows = FsListing.list(spark, root.toString).collect()
      .map(r => r.getAs[String]("filepath") ->
        r.getAs[String]("entry_type")).toMap
    assert(rows("/a") == "directory")
    assert(rows("/a/x.txt") == "file")
    // symlinks are emitted as FILE entries (perms 'l…' parse as file in
    // the reference, scanner.py:145-146), never recursed
    assert(rows("/b") == "file")
    assert(rows("/a/up") == "file")
    assert(!rows.keySet.exists(_.startsWith("/b/")))
    assert(!rows.keySet.exists(_.startsWith("/a/up/")))
  }

  test("field contract: sizes, depth, names") {
    val root = mkTree()
    val rows = FsListing.list(spark, root.toString).collect()
      .map(r => r.getAs[String]("filepath") ->
        ((r.getAs[String]("name"), r.getAs[Long]("size_bytes"),
          r.getAs[Int]("depth"))))
      .toMap
    assert(rows("/a/f1.txt") == (("f1.txt", 5L, 2)))
    assert(rows("/b/c") == (("c", 0L, 2)))
    assert(rows("/b/c/f2.tmp") == (("f2.tmp", 3L, 3)))
  }
}
