package graft.sources

import java.io.File
import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter,
  IsNotNull, Or, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The filesystem listing source — the reference's scan front end
  * (SURVEY.md S1-S4) as a DataSourceV2:
  * `spark.read.format("fslisting").load(root)`, or through
  * [[FsListing.list]].
  *
  *  - S3 directory splitter: the driver lists the root's immediate
  *    children and seeds one walk per top-level entry, round-robined
  *    into ≤64 partitions (parallel_scanner.py:199-267's
  *    `find -maxdepth 1 -type d`).
  *  - S1/S2 recursive scan: each partition walks its seeds with plain
  *    `java.io.File` calls — Spark's task scheduler and retries replace
  *    the reference's ThreadPoolExecutor + manual halved-worker retry
  *    loop (parallel_scanner.py:823-894).
  *  - P3/P4 pushdown: hidden entries (unless `include_hidden`) and the
  *    `skip_regex` option (a compiled [[graft.functions.Globs.skipRegex]],
  *    matched against the root-relative path) are pruned DURING
  *    recursion, so excluded subtrees are never walked — the reference
  *    compiles skip patterns into `find -not -path` args
  *    (scanner.py:334-347).
  *
  * Catalyst's own predicates prune the walk too (SURVEY.md §4.3):
  * `filepath STARTSWITH p`, `filepath = p` and ORs of them, and
  * `entry_type = t`, are pushed and fully enforced — subtrees that
  * cannot hold a matching path are never visited, and seeds outside
  * them are never scheduled. Column pruning is honored
  * (`SupportsPushDownRequiredColumns`): a `select(name)` makes no stat
  * calls for sizes.
  *
  * Symlinks are emitted as file entries with the LINK's own lstat
  * values and never followed (`find -P`; perms `l…` parse as a file,
  * scanner.py:145-146). The root itself is never emitted; a root that
  * is not a directory lists zero rows.
  */
class FsListingSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fslisting"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FsListingSource.schema

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new FsListingTable(properties.get("path"))
}

object FsListingSource {
  /** Reader option: a regex (e.g. [[graft.functions.Globs.skipRegex]])
    * whose match anywhere in an entry's root-relative path (no leading
    * '/') prunes the entry and its subtree.
    */
  val SkipRegex = "skip_regex"

  /** Reader option: list dot-entries too (default false). */
  val IncludeHidden = "include_hidden"

  // the listing's row contract — nullability as the snapshot schema
  // (`_SCHEMA.ddl`) has always recorded it
  val schema: StructType = StructType(Seq(
    StructField("filepath", StringType),
    StructField("name", StringType),
    StructField("size_bytes", LongType, nullable = false),
    StructField("modified_time", TimestampType),
    StructField("entry_type", StringType),
    StructField("depth", IntegerType, nullable = false)))
}

/** A pushed `filepath` predicate the walk enforces and prunes by:
  * `STARTSWITH p`, `= p`, and ORs of them.
  */
private[sources] sealed trait PathFilter extends Serializable {
  def matches(path: String): Boolean

  /** Some path strictly below directory `dir` may match; false prunes
    * the recursion. Separator-aware, so a filter on `/a/b/…` never
    * walks the sibling `/a/bc`.
    */
  def below(dir: String): Boolean
}

private[sources] object PathFilter {
  final case class Prefix(pre: String) extends PathFilter {
    def matches(path: String): Boolean = path.startsWith(pre)
    def below(dir: String): Boolean =
      (dir + "/").startsWith(pre) || pre.startsWith(dir + "/")
    override def toString: String = pre
  }

  final case class Exact(value: String) extends PathFilter {
    def matches(path: String): Boolean = path == value
    def below(dir: String): Boolean = value.startsWith(dir + "/")
    override def toString: String = s"=$value"
  }

  final case class AnyOf(l: PathFilter, r: PathFilter) extends PathFilter {
    def matches(path: String): Boolean = l.matches(path) || r.matches(path)
    def below(dir: String): Boolean = l.below(dir) || r.below(dir)
    override def toString: String = s"($l OR $r)"
  }

  def of(f: Filter): Option[PathFilter] = f match {
    case StringStartsWith("filepath", pre) => Some(Prefix(pre))
    case EqualTo("filepath", v: String) => Some(Exact(v))
    case Or(l, r) => for (a <- of(l); b <- of(r)) yield AnyOf(a, b)
    case _ => None
  }
}

private[sources] class FsListingTable(root: String)
    extends Table with SupportsRead {
  require(root != null && root.nonEmpty,
    "fslisting requires a path: spark.read.format(\"fslisting\").load(root)")
  override def name(): String = s"fslisting(`$root`)"
  override def schema(): StructType = FsListingSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new FsListingScanBuilder(root,
      Option(options.get(FsListingSource.SkipRegex)),
      options.getBoolean(FsListingSource.IncludeHidden, false))
}

private[sources] class FsListingScanBuilder(root: String,
    skipRegex: Option[String], includeHidden: Boolean)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var paths: Seq[PathFilter] = Nil
  private var entryTypes: Seq[String] = Nil
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = FsListingSource.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo("entry_type", _: String) => true
      // the walk never emits a null, whatever the declared nullability
      case IsNotNull(_) => true
      case f => PathFilter.of(f).isDefined
    }
    // The walk enforces EVERY accepted conjunct (not just the last of
    // each kind): all path filters must match a row, all type equalities
    // must hold. Contradictory combinations (two incomparable prefixes,
    // two different entry_type values) therefore correctly yield zero
    // rows — which is exactly what "fully enforced, removed from the
    // residual" promises Spark.
    entryTypes = accepted.collect { case EqualTo("entry_type", t: String) => t }.toIndexedSeq
    paths = accepted.flatMap(PathFilter.of).toIndexedSeq
    pushed = accepted
    rejected
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new FsListingScan(
    FsWalk(root, skipRegex, includeHidden, paths, entryTypes), required)
}

/** The one recursive walk and its pruning rules — shared by partition
  * planning on the driver and the readers on the executors, so the two
  * can never disagree about what a walk reaches.
  */
private[sources] final case class FsWalk(
    root: String,
    skipRegex: Option[String],
    includeHidden: Boolean,
    paths: Seq[PathFilter],
    entryTypes: Seq[String]) {

  import FsWalk.Ent

  @transient private lazy val skip = skipRegex.map(_.r.pattern)

  /** P3/P4, checked before recursing: a pruned directory's subtree is
    * never listed. `rp` is the '/'-prefixed root-relative path.
    */
  private def keep(f: File, rp: String): Boolean =
    (includeHidden || !f.getName.startsWith(".")) &&
      !skip.exists(_.matcher(rp.substring(1)).find())

  private def matches(rp: String): Boolean = paths.forall(_.matches(rp))

  private def descend(dir: String): Boolean = paths.forall(_.below(dir))

  private def emits(e: Ent): Boolean = matches(e.relPath) &&
    entryTypes.forall(t => (if (e.isDir) "directory" else "file") == t)

  /** The root's children worth a task: kept, and able to emit a row. */
  def seeds(): Seq[String] = Option(new File(root).listFiles).toSeq.flatten
    .filter { c =>
      val rp = "/" + c.getName
      keep(c, rp) && (matches(rp) || (realDir(c) && descend(rp)))
    }
    .map(_.getName)

  /** Every emitted entry below the seed `name` (a child of the root). */
  def walk(name: String): Iterator[Ent] = walk(new File(root, name), "/" + name)

  private def walk(f: File, rp: String): Iterator[Ent] =
    if (!keep(f, rp)) Iterator.empty
    else if (realDir(f)) {
      val self = Ent(f, rp, isDir = true, isLink = false)
      Iterator(self).filter(emits) ++
        (if (!descend(rp)) Iterator.empty // pushdown prunes HERE
         else Option(f.listFiles).iterator.flatten
           .flatMap(c => walk(c, rp + "/" + c.getName)))
    } else {
      val e = Ent(f, rp, isDir = false,
        isLink = java.nio.file.Files.isSymbolicLink(f.toPath))
      Iterator(e).filter(emits)
    }

  // real directories only — a symlinked directory is emitted (as a
  // file entry) but never followed: following would double-index
  // sibling targets and loop forever on `ln -s ..` cycles
  private def realDir(f: File): Boolean =
    f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath)
}

private[sources] object FsWalk {
  /** One visited entry: path/type/link-ness resolved ONCE during the
    * walk (the walk needs them for recursion anyway); size/mtime stat
    * calls are left on the File so column pruning skips them entirely
    * for projections that don't read them.
    */
  final case class Ent(f: File, relPath: String, isDir: Boolean,
      isLink: Boolean)

  /** The link's own (size, mtime-ms) via a NOFOLLOW stat — works for
    * broken links too.
    */
  def lstat(f: File): (Long, Long) = {
    val a = java.nio.file.Files.readAttributes(f.toPath,
      classOf[java.nio.file.attribute.BasicFileAttributes],
      java.nio.file.LinkOption.NOFOLLOW_LINKS)
    (a.size(), a.lastModifiedTime().toMillis)
  }
}

private[sources] case class FsListingPartition(seeds: Seq[String])
    extends InputPartition

private[sources] class FsListingScan(walk: FsWalk, required: StructType)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"FsListingScan(root=${walk.root}, " +
      s"pushedPrefixes=${walk.paths.mkString("&")}, " +
      s"pushedTypes=${walk.entryTypes.mkString("|")}, " +
      s"columns=${required.fieldNames.mkString(",")})"

  override def planInputPartitions(): Array[InputPartition] = {
    // seeds are pruned at PLANNING time (a task that would emit nothing
    // must not be scheduled); an empty, missing or non-directory root
    // has none: zero partitions, zero rows. A 100k-child root must not
    // become 100k tasks — round-robin the seeds into ≤64 partitions.
    val seeds = walk.seeds()
    val nPart = math.min(seeds.size, 64)
    seeds.zipWithIndex.groupMap(_._2 % nPart)(_._1).toSeq.sortBy(_._1)
      .map { case (_, g) => FsListingPartition(g) }
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FsListingReaderFactory(walk, required.fieldNames)
}

private[sources] class FsListingReaderFactory(walk: FsWalk,
    fields: Array[String]) extends PartitionReaderFactory {

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new FsListingReader(walk,
      partition.asInstanceOf[FsListingPartition].seeds, fields)
}

private[sources] class FsListingReader(walk: FsWalk, seeds: Seq[String],
    fields: Array[String]) extends PartitionReader[InternalRow] {

  private val it = seeds.iterator.flatMap(walk.walk)
  private var cur: FsWalk.Ent = _

  override def next(): Boolean =
    if (it.hasNext) { cur = it.next(); true } else false

  override def get(): InternalRow = {
    // symlinks report the LINK's own lstat values, not the target's
    // (broken links would otherwise get size 0 / epoch mtime)
    lazy val linkStat = FsWalk.lstat(cur.f)
    val values = fields.map {
      case "filepath" => UTF8String.fromString(cur.relPath)
      case "name" => UTF8String.fromString(cur.f.getName)
      case "size_bytes" =>
        if (cur.isLink) linkStat._1
        else if (cur.isDir) 0L else cur.f.length()
      case "modified_time" => // ms → µs
        (if (cur.isLink) linkStat._2 else cur.f.lastModified()) * 1000L
      case "entry_type" =>
        UTF8String.fromString(if (cur.isDir) "directory" else "file")
      case "depth" => cur.relPath.count(_ == '/')
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = ()
}
