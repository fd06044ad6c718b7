package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** A seeded directory tree and its in-memory model.
  *
  * The model is what the indexer must find: every file and directory
  * that is neither hidden nor matched by a default skip pattern. The
  * tree also holds a few hidden and skip-pattern entries, which the
  * model keeps apart (`masked`) so they are written and moved, but
  * never expected in the index.
  *
  * Files are written sparse (`setLength`), so sizes up to tens of MB
  * cost no disk bandwidth; the indexer only stats them.
  */
final class Tree private (
    val seed: Long,
    val files: mutable.TreeMap[String, Tree.Entry],
    val dirs: mutable.TreeSet[String],
    val masked: mutable.TreeMap[String, Tree.Entry],
    val maskedDirs: mutable.TreeSet[String]) {
  import Tree._

  def bytes: Long = files.valuesIterator.map(_.size).sum

  /** SHA-256 over the sorted manifest of every entry, masked ones too. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    dirs.foreach(d => put(s"d\t$d\n"))
    files.foreach { case (p, e) => put(s"f\t$p\t${e.size}\t${e.mtimeMs}\n") }
    maskedDirs.foreach(d => put(s"md\t$d\n"))
    masked.foreach { case (p, e) => put(s"mf\t$p\t${e.size}\t${e.mtimeMs}\n") }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Write the whole tree under `root`, files in parallel. */
  def write(root: Path, threads: Int): Unit = {
    (dirs.iterator ++ maskedDirs.iterator)
      .foreach(d => Files.createDirectories(root.resolve(d)))
    val all = (files.iterator ++ masked.iterator).toIndexedSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val chunk = (all.size + threads - 1) / threads
      val fs = all.grouped(math.max(1, chunk)).map { part =>
        pool.submit(new Runnable {
          def run(): Unit = part.foreach { case (p, e) =>
            writeFile(root.resolve(p), e.size, e.mtimeMs) }
        })
      }.toList
      fs.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Apply one seeded churn batch to the model and to the tree under
    * `root`: one directory rename, then deletes, rewrites and adds of
    * `frac / 3` of the files each, all outside the renamed subtree.
    */
  def churn(root: Path, op: Int, frac: Double): Churn = {
    val rng = new SplittableRandom(seed * 1000003L + op)
    val k = math.max(1, (files.size * frac / 3).toInt)

    // rename a directory below the top level whose subtree holds
    // 0.25% to 0.75% of the files, so each batch stays near `frac`
    val sizes = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    files.keysIterator.foreach { f =>
      var d = parent(f)
      while (d.nonEmpty) { sizes(d) += 1; d = parent(d) }
    }
    val candidates = Some(dirs.iterator.filter(d => depth(d) >= 2 &&
      sizes(d) >= files.size / 400 && sizes(d) <= files.size / 130)
      .toIndexedSeq).filter(_.nonEmpty)
      .getOrElse(dirs.iterator.filter(depth(_) >= 2).toIndexedSeq)
    val from = candidates(rng.nextInt(candidates.size))
    val to = s"${from}_r$op"
    val under = (p: String) => p == from || p.startsWith(from + "/")
    val movedFiles = files.keysIterator.filter(under).toList
    val movedDirs = dirs.iterator.filter(under).toList
    Files.move(root.resolve(from), root.resolve(to))
    def moved(p: String) = to + p.substring(from.length)
    movedFiles.foreach(p => files(moved(p)) = files.remove(p).get)
    movedDirs.foreach { d => dirs -= d; dirs += moved(d) }
    masked.keysIterator.filter(under).toList
      .foreach(p => masked(moved(p)) = masked.remove(p).get)
    maskedDirs.iterator.filter(under).toList
      .foreach { d => maskedDirs -= d; maskedDirs += moved(d) }

    val outside = files.keysIterator
      .filterNot(p => p.startsWith(to + "/")).toIndexedSeq
    val picked = pick(rng, outside, 2 * k)
    val (deleted, rewritten) = picked.splitAt(k)
    deleted.foreach { p =>
      files.remove(p)
      Files.delete(root.resolve(p))
    }
    // on disk a rewrite gets the churn's wall-clock time: later than the
    // previous run's link fetch (which stamps last_updated with the wall
    // clock), so the stale-only link refresh fetches it again. The model
    // keeps the seeded mtime, so the digest depends on the seed alone.
    val clockMs = System.currentTimeMillis()
    rewritten.foreach { p =>
      val old = files(p)
      val e = Entry(nextSize(rng, old.size),
        old.mtimeMs + 1000L * (1 + rng.nextInt(86400)))
      files(p) = e
      writeFile(root.resolve(p), e.size, math.max(e.mtimeMs, clockMs))
    }
    val parents = dirs.iterator.filter(d => depth(d) <= 5).toIndexedSeq
    val added = (0 until k).map { j =>
      val p = s"${parents(rng.nextInt(parents.size))}/a${op}_$j.${ext(rng)}"
      val e = Entry(size(rng), mtime(rng))
      files(p) = e
      writeFile(root.resolve(p), e.size, e.mtimeMs)
      p
    }
    Churn(deleted.size + movedFiles.size + movedDirs.size,
      rewritten.toSet ++ added ++ movedFiles.map(moved))
  }
}

object Tree {
  final case class Entry(size: Long, mtimeMs: Long)

  /** One applied churn batch: the number of indexed entries that
    * disappeared, and the files whose content or path changed (the only
    * ones a link refresh needs to fetch).
    */
  final case class Churn(removed: Int, changed: Set[String])

  /** 2025-01-01T00:00:00Z and a half-year mtime window after it. */
  private val BaseMs = 1735689600000L
  private val SpanMs = 182L * 86400L * 1000L

  private val Exts = IndexedSeq("txt", "log", "csv", "json", "jpg", "png",
    "mp4", "mov", "wav", "pdf", "docx", "psd", "parquet", "tar.gz", "")

  private def ext(rng: SplittableRandom): String = {
    // skewed: the first extensions are far more common than the last
    val i = (math.pow(rng.nextDouble(), 2) * Exts.size).toInt
    Exts(math.min(i, Exts.size - 1)) match { case "" => "bin"; case e => e }
  }

  /** Log-uniform sizes from 0 B to 64 MiB; one file in 50 is empty. */
  private def size(rng: SplittableRandom): Long =
    if (rng.nextInt(50) == 0) 0L
    else math.exp(rng.nextDouble() * math.log(64.0 * 1024 * 1024)).toLong

  private def mtime(rng: SplittableRandom): Long =
    BaseMs + (rng.nextLong() >>> 1) % SpanMs

  private def nextSize(rng: SplittableRandom, old: Long): Long = {
    val s = size(rng)
    if (s == old) s + 1 else s
  }

  private def parent(p: String): String = {
    val i = p.lastIndexOf('/')
    if (i < 0) "" else p.substring(0, i)
  }

  private def depth(p: String): Int = p.count(_ == '/') + 1

  private def pick(rng: SplittableRandom, xs: IndexedSeq[String],
      n: Int): IndexedSeq[String] = {
    val chosen = mutable.LinkedHashSet.empty[String]
    while (chosen.size < math.min(n, xs.size))
      chosen += xs(rng.nextInt(xs.size))
    chosen.toIndexedSeq
  }

  private def writeFile(p: Path, size: Long, mtimeMs: Long): Unit = {
    val f = new java.io.RandomAccessFile(p.toFile, "rw")
    try f.setLength(size) finally f.close()
    if (!p.toFile.setLastModified(mtimeMs))
      throw new java.io.IOException(s"cannot set mtime of $p")
  }

  /** The tree for `seed`: `nFiles` indexed files in directories at
    * depths 1 to 5 (so files sit at depths 2 to 6), with uneven
    * fan-out from preferential attachment, plus a few hidden and
    * skip-pattern entries.
    */
  def generate(seed: Long, nFiles: Int): Tree = {
    val rng = new SplittableRandom(seed)
    val dirs = mutable.TreeSet.empty[String]
    val weights = mutable.ArrayBuffer.empty[(String, Double)]
    // a fixed top-level width: the listing's partitions are one per
    // top-level directory, so the seed must not change the parallelism
    val top = 12
    (0 until top).foreach { i =>
      val d = f"t$i%02d"
      dirs += d
      weights += d -> math.pow(rng.nextDouble(), 2)
    }
    val nDirs = math.max(top + 1, nFiles / 25)
    var n = 0
    while (dirs.size < nDirs) {
      // preferential attachment: a directory with children attracts more
      val parents = weights.filter { case (d, _) => depth(d) < 5 }
      val total = parents.map(_._2).sum
      var r = rng.nextDouble() * total
      val p = parents.find { case (_, w) => r -= w; r <= 0 }
        .getOrElse(parents.last)._1
      val d = f"$p/d$n%05d"
      n += 1
      dirs += d
      weights += d -> math.pow(rng.nextDouble(), 3)
      val i = weights.indexWhere(_._1 == p)
      weights(i) = p -> (weights(i)._2 + 0.05)
    }
    // files per directory: heavy-tailed weights, root holds no files
    val dirSeq = dirs.toIndexedSeq
    val cum = dirSeq.map(_ => math.pow(rng.nextDouble(), 4))
      .scanLeft(0.0)(_ + _).tail.toArray
    val files = mutable.TreeMap.empty[String, Entry]
    var i = 0
    while (files.size < nFiles) {
      val r = rng.nextDouble() * cum.last
      val j = java.util.Arrays.binarySearch(cum, r) match {
        case k if k >= 0 => k
        case k => -k - 1
      }
      val p = f"${dirSeq(math.min(j, dirSeq.size - 1))}/f$i%06d.${ext(rng)}"
      i += 1
      files(p) = Entry(size(rng), mtime(rng))
    }
    // entries the indexer must leave out (defaults: hidden off, and
    // the reference's skip list)
    val masked = mutable.TreeMap.empty[String, Entry]
    val maskedDirs = mutable.TreeSet.empty[String]
    def someDir = dirSeq(rng.nextInt(dirSeq.size))
    def m(p: String) =
      masked(p) = Entry(size(rng), mtime(rng))
    (0 until math.max(1, nFiles / 500)).foreach { k =>
      m(s"$someDir/.hidden$k")
      m(s"$someDir/scratch$k.tmp")
      m(s"$someDir/build$k.lock")
      m(s"$someDir/.edit$k.swp")
    }
    Seq(".git", "node_modules", "__pycache__").foreach { name =>
      (0 until 2).foreach { k =>
        val d = s"$someDir/$name"
        maskedDirs += d
        (0 until 5).foreach(j => m(s"$d/obj${k}_$j"))
      }
    }
    new Tree(seed, files, dirs, masked, maskedDirs)
  }
}
