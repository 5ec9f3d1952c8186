package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{And, DataSourceRegister, EqualTo, EqualNullSafe, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Hadoop Configuration is not serializable; ship it to executors manually. */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** DataSource V2 entry point, one concrete zero-arg subclass per format
  * (registered in META-INF/services for `spark.read.format("fasta")`).
  *
  * Architecture (SURVEY §2.1 "Spark mapping"): TableProvider → GraftTable
  * (file listing + hive partition discovery) → GraftScanBuilder (column
  * pruning + partition-filter pushdown) → GraftBatch (size-packed, record-
  * aligned splits) → GraftPartitionReader (decompress, parse, project).
  */
abstract class GraftTableProvider(format: GraftFormat)
  extends TableProvider with DataSourceRegister {

  override def shortName(): String = format.shortName
  // Parsers build rows against the format-derived schema, so a user-supplied
  // schema cannot be honored — declaring false makes Spark reject
  // .schema(...) loudly instead of this provider silently ignoring it.
  override def supportsExternalMetadata(): Boolean = false

  /** Hook for providers whose format depends on reader options (e.g.
    * bigwig_zoom's reductionLevel).
    */
  protected def resolveFormat(opts: Map[String, String]): GraftFormat = format

  private def lowerKeys(options: java.util.Map[String, String]): Map[String, String] =
    options.asScala.toMap.map { case (k, v) => k.toLowerCase -> v }

  /** The table inferSchema built, until getTable takes it over. Spark
    * resolves a table by calling inferSchema(options) and then
    * getTable(schema, _, options) on the same provider instance; handing
    * the table over means the schema and the scan come from one listing
    * instead of listing every root twice.
    */
  private val inferred = new java.util.concurrent.atomic.AtomicReference[GraftTable]()

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = lowerKeys(options.asCaseSensitiveMap())
    val table = new GraftTable(resolveFormat(opts), opts)
    val schema = table.schema()
    inferred.set(table)
    schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = lowerKeys(properties)
    val pending = inferred.getAndSet(null)
    if (pending != null && pending.options == opts) pending
    else new GraftTable(resolveFormat(opts), opts)
  }
}

/** One chunk of one file; a partition holds one or more chunks (small files
  * are packed together, big splittable files are cut at record boundaries).
  * `vStart`/`vEnd` >= 0 marks a BGZF virtual-position chunk produced by an
  * index query — the reader seeks to the block and inflates only that range.
  */
final case class FileChunk(path: String, start: Long, length: Long, fileSize: Long,
                           partValues: Array[String],
                           vStart: Long = -1L, vEnd: Long = -1L,
                           blockSplit: Boolean = false,
                           recordSplit: Boolean = false,
                           alignedSplit: Boolean = false,
                           containerSplit: Boolean = false) {
  def isWholeFile: Boolean =
    vStart < 0 && !blockSplit && !recordSplit && !alignedSplit &&
      !containerSplit && start == 0 && length >= fileSize
  def isBgzfChunk: Boolean = vStart >= 0
}

final case class GraftInputPartition(chunks: Array[FileChunk]) extends InputPartition

final class GraftTable(val format: GraftFormat, private[sources] val options: Map[String, String])
  extends Table with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {

  private def spark = SparkSession.active

  val paths: Seq[String] = {
    val ps = options.get("paths").map(parseJsonPaths).getOrElse(Nil)
    val p = options.get("path").toSeq
    val all = ps ++ p
    require(all.nonEmpty, s"${format.shortName}: no path specified")
    all
  }

  private def parseJsonPaths(json: String): Seq[String] = {
    // Spark encodes multi-path loads as a JSON string array; parse it
    // properly (quotes + escapes) so paths containing commas survive.
    val out = mutable.ArrayBuffer[String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    var inStr = false
    while (i < json.length) {
      val c = json.charAt(i)
      if (!inStr) {
        if (c == '"') { inStr = true; sb.setLength(0) }
      } else c match {
        case '"' => inStr = false; out += sb.toString
        case '\\' =>
          i += 1
          val e = json.charAt(i)
          sb.append(e match {
            case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
            case 'b' => '\b'; case 'f' => '\f'
            case 'u' =>
              val cp = Integer.parseInt(json.substring(i + 1, i + 5), 16)
              i += 4
              cp.toChar
            case other => other
          })
        case other => sb.append(other)
      }
      i += 1
    }
    out.toSeq
  }

  /** Explicit `.option("region", "chr1:1-100")` or `.option("regionFile",
    * path)` (one region per line) — prunes indexed files to matching BGZF
    * chunks AND row-filters inside the reader (unlike the WHERE-clause
    * path, there is no residual filter to rely on). A row passes if it
    * overlaps ANY listed region.
    */
  val regionsOption: Seq[(String, Long, Long)] = {
    val bounds = graft.functions.GenomicRegion.boundsFromOptions(
      options, spark.sparkContext.hadoopConfiguration)
    // A region option on a format with no genomic coordinates (fastq, sdf,
    // mzml, ...) would otherwise be silently ignored — reject it loudly.
    require(bounds.isEmpty || format.regionColumns.isDefined || format.handlesRegionsItself,
      s"${format.shortName}: region/regionFile options are not supported for this format")
    bounds
  }

  private val extensions: Seq[String] =
    options.get("fileextension").map(e => Seq(e.stripPrefix(".").toLowerCase))
      .getOrElse(format.defaultExtensions)

  // none | gzip | zstd | infer (default): with infer, compression is detected
  // per file from its extension; with none, compressed files are excluded
  // from directory listings.
  private val compression: String = options.getOrElse("compression", "infer").toLowerCase

  /** Paths that resolved to nothing — tolerated at schema time (write path
    * targets may not exist yet), fatal at scan time.
    */
  @volatile private var missingPaths: Seq[String] = Nil

  def requireExists(): Unit = {
    listing // force
    require(missingPaths.isEmpty,
      s"${format.shortName}: path does not exist: ${missingPaths.mkString(", ")}")
  }

  /** (files, partitionColumns). Listed once on the driver for batch scans;
    * streaming re-lists per micro-batch via listNow().
    */
  lazy val listing: (Seq[(FileStatus, Array[String])], Seq[String]) = listNow()

  def listNow(): (Seq[(FileStatus, Array[String])], Seq[String]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val missing = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val files =
      new java.util.concurrent.ConcurrentLinkedQueue[(FileStatus, List[(String, String)])]()
    // Partition-column order must be deterministic under a parallel walk:
    // record each column's directory depth and sort by (depth, name) — in a
    // hive layout a column sits at a fixed nesting depth, so this reproduces
    // the serial DFS discovery order.
    val colDepth = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

    def nameMatches(name: String): Boolean = {
      val lower = name.toLowerCase
      if (lower.startsWith("_") || lower.startsWith(".")) return false
      val isCompressed = Codecs.isCompressed(lower)
      if (compression == "none" && isCompressed) return false
      val base = Codecs.stripCompression(lower)
      extensions.exists(e => base.endsWith("." + e))
    }

    final case class DirTask(path: Path, parentVals: List[(String, String)], root: Boolean)

    // A `k=v` directory below a root adds its column (at its depth among
    // the `k=v` directories above it) and its value.
    def withPartition(name: String, parentVals: List[(String, String)]): List[(String, String)] =
      if (!name.contains("=")) parentVals
      else {
        val Array(k, v) = name.split("=", 2)
        colDepth.merge(k, Integer.valueOf(parentVals.size),
          (a, b) => if (a.intValue <= b.intValue) a else b)
        parentVals :+ (k -> v)
      }

    // One directory's listStatus: appends matching files, returns child dirs.
    def expand(t: DirTask): Seq[DirTask] = {
      val active = GraftScan.activeListings.incrementAndGet()
      GraftScan.maxConcurrentListings.accumulateAndGet(active, math.max)
      try {
        val fs = t.path.getFileSystem(conf)
        val vals = if (t.root) t.parentVals else withPartition(t.path.getName, t.parentVals)
        val next = mutable.ArrayBuffer[DirTask]()
        fs.listStatus(t.path).foreach { child =>
          if (child.isDirectory) next += DirTask(child.getPath, vals, root = false)
          else if (nameMatches(child.getPath.getName) && child.getLen > 0)
            files.add((child, vals))
        }
        next.toSeq
      } finally GraftScan.activeListings.decrementAndGet()
    }

    // The whole tree under `root` from one flat listing, on a filesystem
    // that declares S3HttpFileSystem.FlatListing. Partition values come
    // from the directories between the root and each entry; a directory
    // entry (a marker with no files under it) still adds its columns.
    def listFlat(fs: FileSystem, root: Path): Unit = {
      val rootDepth = root.depth()
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.depth() == rootDepth) {
          // the root is a file: explicit file path, no extension filtering
          if (st.isFile && st.getLen > 0) files.add((st, Nil))
        } else {
          var dirs = List.empty[String]
          var d = if (st.isDirectory) st.getPath else st.getPath.getParent
          while (d.depth() > rootDepth) { dirs ::= d.getName; d = d.getParent }
          val vals = dirs.foldLeft(List.empty[(String, String)])((acc, n) => withPartition(n, acc))
          if (st.isFile && nameMatches(st.getPath.getName) && st.getLen > 0)
            files.add((st, vals))
        }
      }
    }

    // Roots, serially (the fan-out below is what matters at scale, not the
    // handful of top-level paths). A root without glob characters skips
    // globStatus, which costs an object store 2 HEADs and a LIST; on a
    // flat-listing filesystem it is listed in one go.
    var level: Seq[DirTask] = paths.flatMap { p =>
      val fsPath = new Path(p)
      val fs = fsPath.getFileSystem(conf)
      val flat = fs.hasPathCapability(fsPath, s3.S3HttpFileSystem.FlatListing)
      val isGlob = p.exists(c => "*?[]{}\\".indexOf(c) >= 0)
      if (flat && !isGlob) {
        try listFlat(fs, fs.makeQualified(fsPath))
        catch { case _: java.io.FileNotFoundException => missing.add(fsPath.toString) }
        Nil
      } else {
        val matches =
          if (isGlob) fs.globStatus(fsPath)
          else try Array(fs.getFileStatus(fsPath))
          catch { case _: java.io.FileNotFoundException => null }
        if (matches == null || matches.isEmpty) { missing.add(fsPath.toString); Nil }
        else matches.toSeq.flatMap { st =>
          if (st.isDirectory) {
            if (flat) { listFlat(fs, st.getPath); Nil }
            else Seq(DirTask(st.getPath, Nil, root = true))
          } else {
            // explicit file path: no extension filtering
            if (st.getLen > 0) files.add((st, Nil))
            Nil
          }
        }
      }
    }

    // Level-synchronous BFS; each level's directory listings fan out over a
    // bounded pool. At 10k+ hive partition dirs on an object store (~10 ms
    // RTT per listStatus) a serial recursive walk is the dominant planning
    // stall — the same reason index pruning got its bounded pool.
    while (level.nonEmpty) {
      level =
        if (level.size == 1) expand(level.head)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(16, level.size))
          try {
            val tasks: java.util.List[java.util.concurrent.Callable[Seq[DirTask]]] =
              level.map(t => (() => expand(t)): java.util.concurrent.Callable[Seq[DirTask]]).asJava
            pool.invokeAll(tasks).asScala.toSeq.flatMap(_.get())
          } finally pool.shutdown()
        }
    }

    missingPaths = missing.asScala.toSeq
    val cols = colDepth.asScala.toSeq
      .sortBy { case (k, d) => (d.intValue, k) }.map(_._1)
    val resolved = files.asScala.toSeq
      .sortBy(_._1.getPath.toString) // deterministic under the parallel walk
      .map { case (st, vals) =>
        val m = vals.toMap
        (st, cols.map(c => m.getOrElse(c, null)).toArray)
      }
    (resolved, cols)
  }

  def partitionSchema: StructType =
    StructType(listing._2.map(c => StructField(c, StringType, nullable = true)))

  /** Data schema after file-driven inference (identity for fixed formats). */
  lazy val resolvedDataSchema: StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    format.inferDataSchema(listing._1.map(_._1), { st =>
      val fs = st.getPath.getFileSystem(conf)
      Codecs.wrap(st.getPath.getName, fs.open(st.getPath))
    })
  }

  /** Reader-option access for the streaming source (admission control). */
  private[sources] def readOption(key: String): Option[String] = options.get(key)

  override def name(): String = s"${format.shortName}:${paths.mkString(",")}"
  override def schema(): StructType =
    StructType(resolvedDataSchema.fields ++ partitionSchema.fields)
  override def capabilities(): java.util.Set[TableCapability] = format match {
    // Text formats stream out too (writeStream.format("fasta")...): each
    // epoch writes deterministic part files so failed-epoch replays are
    // idempotent. The binary sinks (BAM/BCF/CRAM/BigWig) stay batch-only.
    case _: WritableGraftFormat =>
      java.util.EnumSet.of(
        TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.STREAMING_WRITE)
    case formats.BamFormat | formats.BcfFormat |
         _: formats.CramFormat | _: formats.BigWigValueFormat =>
      java.util.EnumSet.of(
        TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
    case _ => java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    requireExists()
    new GraftScanBuilder(this)
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = format match {
    case w: WritableGraftFormat =>
      val writeOpts = info.options().asScala.toMap.map { case (k, v) => k.toLowerCase -> v }
      new GraftWriteBuilder(this, w, info, this.options ++ writeOpts)
    case formats.BamFormat =>
      val writeOpts = info.options().asScala.toMap.map { case (k, v) => k.toLowerCase -> v }
      new BamWriteBuilder(this, info, this.options ++ writeOpts)
    case formats.BcfFormat =>
      val writeOpts = info.options().asScala.toMap.map { case (k, v) => k.toLowerCase -> v }
      new BcfWriteBuilder(this, info, this.options ++ writeOpts)
    case _: formats.CramFormat =>
      val writeOpts = info.options().asScala.toMap.map { case (k, v) => k.toLowerCase -> v }
      new CramWriteBuilder(this, info, this.options ++ writeOpts)
    case _: formats.BigWigValueFormat =>
      val writeOpts = info.options().asScala.toMap.map { case (k, v) => k.toLowerCase -> v }
      new BigWigWriteBuilder(this, info, this.options ++ writeOpts)
    case _ => throw new UnsupportedOperationException(
      s"${format.shortName} does not support writes")
  }
}

final class GraftScanBuilder(table: GraftTable)
  extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var requiredSchema: StructType = table.schema()
  private var pushed: Array[Filter] = Array.empty
  private var filterRegion: Seq[(String, Long, Long)] = Nil
  private var limit: Option[Int] = None
  private var pushedCount: Option[Long] = None

  /** count(*) on a `.fai`-indexed FASTA is answered from index metadata
    * alone — zero sequence bytes read (the reference's benchmark queries
    * are count-shaped, exon-benchmarks/src/main.rs:241). Only complete
    * pushdown, only when nothing else constrains the row set: no data or
    * partition filters, no region, no limit, and every listed file is an
    * uncompressed FASTA with a `.fai` sibling.
    */
  private def metadataCount(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Option[Long] = {
    val countStarOnly = agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (!countStarOnly || pushed.nonEmpty || filterRegion.nonEmpty ||
        table.regionsOption.nonEmpty || limit.nonEmpty) None
    else GraftScan.indexRowCount(table.format, table.listing._1,
      SparkSession.active.sparkContext.hadoopConfiguration)
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataCount(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataCount(agg) match {
      case some @ Some(_) => pushedCount = some; true
      case None => false
    }

  /** Spark only offers a limit when no un-pushed operator sits between it
    * and the scan, so stopping each partition reader after `limit` rows is
    * safe; isPartiallyPushed stays true (default), so Spark still applies
    * the global limit across partitions.
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** Top-level pruning only. With nestedSchemaPruning (on by default)
    * Spark hands us a schema whose struct/array ELEMENT types can be
    * subsets of the data schema's (e.g. GenBank `features:
    * array<struct<qualifiers>>` with kind/location dropped). The parsers
    * emit full-typed values, so declaring the pruned nested type shifts
    * field ordinals inside generated code — reading `kind` (UTF8String)
    * where the plan expects `qualifiers` (ArrayData). Re-widen every kept
    * top-level field to its full declared type; Spark rebuilds the
    * projection against the scan's actual readSchema, and nothing is
    * lost — the parse materializes whole values either way, so nested
    * pruning never saved bytes here.
    */
  override def pruneColumns(required: StructType): Unit = {
    val full = table.schema()
    requiredSchema = StructType(required.fields.map(f =>
      full.fields.find(_.name == f.name).getOrElse(f)))
  }

  /** Accept (and later prune with) filters that touch only partition columns.
    * Everything else stays a residual for Spark to evaluate post-scan — but
    * chrom-equality and coordinate-bound conjuncts are additionally captured
    * to drive tabix-index chunk pruning (they remain residuals, so the scan
    * stays exact even though index bins over-approximate).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val partCols = table.partitionSchema.fieldNames.toSet
    val (accepted, residual) = filters.partition {
      case EqualTo(a, _) => partCols.contains(a)
      case EqualNullSafe(a, _) => partCols.contains(a)
      case In(a, _) => partCols.contains(a)
      case IsNotNull(a) => partCols.contains(a)
      case _ => false
    }
    pushed = accepted
    filterRegion = extractRegions(filters)
    residual
  }

  /** Capture the region set a conjunctive WHERE implies, for index pruning.
    * Handles a single (chrom, lo, hi) conjunct, `chrom IN (...)` fan-out,
    * and a top-level OR of per-chrom region conjuncts (every branch must
    * name a chrom, else the OR prunes nothing). Pruning only needs an
    * over-approximation — the filters stay residuals, so the scan is exact.
    */
  private def extractRegions(filters: Array[Filter]): Seq[(String, Long, Long)] =
    table.format.regionColumns.toSeq.flatMap { case (chromCol, startCol, endCol) =>
      val MaxP = Long.MaxValue / 2 // reg2bins clamps to each index's max position
      def num(v: Any): Long = v.asInstanceOf[Number].longValue()
      // Conjunctive-tree summary: (chrom set if constrained, lo, hi).
      def conj(f: Filter): (Option[Seq[String]], Long, Long) = f match {
        case And(l, r) =>
          val (c1, lo1, hi1) = conj(l); val (c2, lo2, hi2) = conj(r)
          val cs = (c1, c2) match {
            case (Some(a), Some(b)) => Some(a.intersect(b))
            case (a, b) => a.orElse(b)
          }
          (cs, math.max(lo1, lo2), math.min(hi1, hi2))
        case EqualTo(c, v) if c == chromCol => (Some(Seq(String.valueOf(v))), 1L, MaxP)
        case In(c, vs) if c == chromCol =>
          (Some(vs.toSeq.map(String.valueOf(_)).distinct), 1L, MaxP)
        case GreaterThanOrEqual(c, v) if c == endCol => (None, num(v), MaxP)
        case GreaterThan(c, v) if c == endCol => (None, num(v) + 1, MaxP)
        case LessThanOrEqual(c, v) if c == startCol => (None, 1L, num(v))
        case LessThan(c, v) if c == startCol => (None, 1L, num(v) - 1)
        case _ => (None, 1L, MaxP) // unconstrained — sound over-approximation
      }
      // Region set of an arbitrary tree; None = cannot constrain (full scan).
      def regionSet(f: Filter): Option[Seq[(String, Long, Long)]] = f match {
        case Or(l, r) => for { a <- regionSet(l); b <- regionSet(r) } yield a ++ b
        case other =>
          val (cs, lo, hi) = conj(other)
          cs.map(_.map(c => (c, math.max(lo, 1L), hi)))
      }
      // The array is a conjunction: fold the simple conjuncts, then tighten
      // any OR-derived region set with the global coordinate bounds.
      val (chromSet, lo, hi) = filters.filterNot(_.isInstanceOf[Or])
        .foldLeft((Option.empty[Seq[String]], 1L, MaxP)) { case ((cs0, lo0, hi0), f) =>
          val (cs1, lo1, hi1) = conj(f)
          val cs = (cs0, cs1) match {
            case (Some(a), Some(b)) => Some(a.intersect(b))
            case (a, b) => a.orElse(b)
          }
          (cs, math.max(lo0, lo1), math.min(hi0, hi1))
        }
      val base = chromSet.map(_.map(c => (c, lo, hi)))
      val orDerived = filters.collect { case o: Or => regionSet(o) }.flatten.headOption
        .map(_.map { case (c, l, h) => (c, math.max(l, lo), math.min(h, hi)) })
      base.orElse(orDerived).getOrElse(Nil).filter { case (_, l, h) => l <= h }.distinct
    }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = pushedCount match {
    case Some(n) => new GraftCountScan(table, n)
    case None => new GraftScan(table, requiredSchema, pushed, filterRegion, limit)
  }
}

/** Scan for a completely-pushed-down count(*): one partition, one row, the
  * count taken from `.fai` metadata — no data file is ever opened.
  */
final class GraftCountScan(table: GraftTable, count: Long)
  extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType =
    new StructType().add("count(*)", LongType, nullable = false)
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCountScan(${table.format.shortName}, count=$count from .fai metadata)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftCountPartition(count))
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCountReaderFactory
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(8L)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(1L)
  }
}

final case class GraftCountPartition(count: Long) extends InputPartition

final class GraftCountReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val n = partition.asInstanceOf[GraftCountPartition].count
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](n))
      override def close(): Unit = ()
    }
  }
}

final class GraftScan(table: GraftTable, required: StructType, partFilters: Array[Filter],
                      filterRegion: Seq[(String, Long, Long)],
                      limit: Option[Int] = None)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering {

  // Option-regions win; WHERE-derived regions otherwise. Only the option path
  // needs reader-side row filtering (WHERE filters stay as Spark residuals).
  private val region: Seq[(String, Long, Long)] =
    if (table.regionsOption.nonEmpty) table.regionsOption else filterRegion

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(table, this)
  override def description(): String =
    s"GraftScan(${table.format.shortName}, cols=${required.fieldNames.mkString(",")}," +
      s" partFilters=${partFilters.mkString(",")}, region=$region" +
      limit.map(l => s", limit=$l").getOrElse("") + ")"

  // Runtime (DPP-style) filters on partition columns, delivered by Spark
  // after the build side of a join materialises: a 100 TB hive-partitioned
  // corpus joined against a small sample list reads only matching dirs.
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    table.listing._2.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.column(c)).toArray

  override def filter(filters: Array[Filter]): Unit = {
    val partCols = table.listing._2.toSet
    val usable = filters.filter(_.references.forall(partCols.contains))
    if (usable.nonEmpty) {
      runtimeFilters = usable
      planned = null // re-plan with the tightened pruning
    }
  }

  private def prunePartitions(files: Seq[(FileStatus, Array[String])],
                              partCols: Seq[String]): Seq[(FileStatus, Array[String])] = {
    val allFilters = partFilters ++ runtimeFilters
    if (allFilters.isEmpty) return files
    val idx = partCols.zipWithIndex.toMap
    files.filter { case (_, vals) =>
      allFilters.forall {
        case EqualTo(a, v)       => idx.get(a).forall(i => vals(i) != null && vals(i) == String.valueOf(v))
        case EqualNullSafe(a, v) => idx.get(a).forall(i => vals(i) == String.valueOf(v))
        case In(a, vs)           => idx.get(a).forall(i => vals(i) != null && vs.map(String.valueOf).contains(vals(i)))
        case IsNotNull(a)        => idx.get(a).forall(i => vals(i) != null)
        case _                   => true
      }
    }
  }

  // Planned once and memoized: estimateStatistics (optimizer time) and
  // planInputPartitions (physical planning) share the same computation, so
  // index pruning runs once and the reported stats reflect the post-pruning
  // chunk set, not the raw listing. A runtime filter invalidates the memo.
  @volatile private var planned: Array[InputPartition] = _

  // Planning observability (recorded by computePartitions, surfaced on the
  // scan node in the SQL UI via reportDriverMetrics).
  @volatile private var mFilesScanned = 0L
  @volatile private var mChunksPlanned = 0L
  @volatile private var mPlannedBytes = 0L

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new FilesListedMetric, new ChunksPlannedMetric, new PlannedBytesMetric,
      new ChunksReadMetric, new RecordsParsedMetric)

  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    plannedPartitions // ensure planning ran (it has, by execution time)
    Array(GraftTaskMetric("filesListed", mFilesScanned),
      GraftTaskMetric("chunksPlanned", mChunksPlanned),
      GraftTaskMetric("plannedBytes", mPlannedBytes))
  }

  private def plannedPartitions: Array[InputPartition] = {
    var p = planned
    if (p == null) { p = computePartitions(); planned = p }
    p
  }

  private def computePartitions(): Array[InputPartition] = {
    val (files, partCols) = table.listing
    val pruned = prunePartitions(files, partCols)
    val spark = SparkSession.active
    def bytesConf(key: String, dflt: String): Long =
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get(key, dflt))
    val maxPartBytes = bytesConf("spark.sql.files.maxPartitionBytes", "134217728")
    val openCost = bytesConf("spark.sql.files.openCostInBytes", "4194304")
    val parallelism = spark.sparkContext.defaultParallelism
    val totalBytes = pruned.map(_._1.getLen + openCost).sum
    val maxSplit = math.max(openCost,
      math.min(maxPartBytes, totalBytes / math.max(1, parallelism)))

    val hadoopConf = spark.sparkContext.hadoopConfiguration

    // Cut chunks: index-driven BGZF virtual ranges when a region + tabix
    // index are available; otherwise whole file, or record-aligned splits for
    // big uncompressed splittable files.
    def fileChunks(st: FileStatus, vals: Array[String]): Seq[FileChunk] = {
      val p = st.getPath.toString
      val size = st.getLen
      val canSplit = table.format.splittable && !Codecs.isCompressed(st.getPath.getName)
      val indexed: Option[Seq[FileChunk]] =
        if (region.isEmpty) None
        else {
          val name = st.getPath.getName.toLowerCase
          val active = GraftScan.activeIndexLookups.incrementAndGet()
          GraftScan.maxConcurrentIndexLookups.accumulateAndGet(active, math.max)
          try {
            val idxOpt = GraftScan.cachedIndex(st) {
              if (name.endsWith(".bam")) BaiIndex.forBam(st.getPath, hadoopConf)
              else if (name.endsWith(".bcf")) CsiIndex.forBcf(st.getPath, hadoopConf)
              else if (Codecs.isCompressed(name)) TabixIndex.forFile(st.getPath, hadoopConf)
              else None
            }
            idxOpt.map { idx =>
              // 1-based inclusive -> 0-based half-open; empty when the index
              // proves the file has no records for any region. For 0-based
              // half-open formats (BED) WHERE-derived bounds are already in
              // file coordinates, so widen the query end by one — residual
              // filters keep the scan exact, widening can never drop a row.
              val ranges = region.flatMap { case (chrom, lo, hi) =>
                val qHi = if (table.format.zeroBasedHalfOpen) hi + 1 else hi
                idx.query(chrom, lo - 1, qHi)
              }
              // Merge overlapping/duplicate virtual ranges ACROSS regions —
              // two nearby regions can map to intersecting chunk lists, and a
              // shared BGZF range decoded twice would duplicate every row
              // that passes the any-region filter (each idx.query merges only
              // within itself).
              GraftScan.mergeVirtualRanges(ranges).map { case (vs, ve) =>
                val approx = math.max(1L, (ve >>> 16) - (vs >>> 16) + (1L << 16))
                FileChunk(p, 0, approx, size, vals, vs, ve)
              }
            }
          } finally GraftScan.activeIndexLookups.decrementAndGet()
        }
      indexed.getOrElse {
        if (canSplit && size > maxSplit) {
          (0L until size by maxSplit).map { off =>
            FileChunk(p, off, math.min(maxSplit, size - off), size, vals)
          }
        } else bgzfFullScanChunks(st, vals, maxSplit)
          .orElse(bgzfBlockSplitChunks(st, vals, maxSplit))
          .orElse(bgzfRecordSplitChunks(st, vals, maxSplit))
          .orElse(containerResyncSplitChunks(st, vals, maxSplit))
          .orElse(alignedCutChunks(st, vals, maxSplit))
          .getOrElse(Seq(FileChunk(p, 0, size, size, vals)))
      }
    }

    /** Full-scan split of a bgzipped FASTA carrying `.fai` + `.gzi`
      * siblings (the `samtools faidx ref.fa.gz` layout): record (header
      * line) starts derive from the `.fai` — entry k's header begins right
      * after entry k-1's last base plus its line terminator — and the
      * `.gzi` maps them to BGZF virtual offsets, giving record-aligned
      * virtual chunks the existing reader machinery serves unchanged.
      * Because the header-start arithmetic assumes well-formed spacing
      * (no stray bytes between records), every chosen cut is VALIDATED by
      * decoding one block and checking the byte there is '>'; any mismatch
      * abandons splitting (one task, never a mis-split).
      */
    def fastaFaiGziChunks(st: FileStatus, vals: Array[String],
                          maxSplit: Long): Option[Seq[FileChunk]] = {
      val p = st.getPath.toString
      val size = st.getLen
      val fs = st.getPath.getFileSystem(hadoopConf)
      // cut points memoized per (file, mtime, size, maxSplit): each cut's
      // validation decodes one BGZF block on the driver. Any index-read
      // failure (truncated .gzi from a partial copy, malformed .fai line)
      // abandons SPLITTING, never the query — one task is slow, not wrong.
      val pointsOpt = GraftScan.cachedFastaCuts(st, maxSplit) {
        try {
          if (!FaiIndex.exists(fs, st.getPath) ||
              !GziIndex.exists(fs, st.getPath)) None
          else {
            val entries = FaiIndex.read(fs, st.getPath).values.toArray
              .sortBy(_.offset)
            if (entries.length < 2) None
            else {
              val gzi = GziIndex.read(fs, st.getPath)
              val in = fs.open(st.getPath) // one open, reused per cut probe
              try {
                def byteAtV(v: Long): Int = {
                  in.seek(v >>> 16)
                  val b = Bgzf.readBlock(in)
                  val off = (v & 0xffff).toInt
                  if (b == null || off >= b.data.length) -1 else b.data(off) & 0xff
                }
                val points = mutable.ArrayBuffer[Long]()
                var lastC = 0L
                var k = 1
                var ok = true
                while (ok && k < entries.length) {
                  val prev = entries(k - 1)
                  val headerStart =
                    prev.offsetOf(prev.length) + 1 + (prev.lineWidth - prev.lineBases)
                  val v = gzi.virtualFor(headerStart)
                  val c = v >>> 16
                  if (c - lastC >= maxSplit) {
                    if (byteAtV(v) != '>') ok = false // layout assumption failed
                    else { points += v; lastC = c }
                  }
                  k += 1
                }
                if (!ok || points.isEmpty) None else Some(points.toSeq)
              } finally in.close()
            }
          }
        } catch { case _: Exception => None }
      }
      pointsOpt.map { points =>
        val bounds = 0L +: points
        bounds.indices.map { i =>
          val vs = bounds(i)
          val ve = if (i + 1 < bounds.length) bounds(i + 1) else Long.MaxValue
          val cLen =
            if (ve == Long.MaxValue) math.max(1L, size - (vs >>> 16))
            else math.max(1L, (ve >>> 16) - (vs >>> 16))
          FileChunk(p, 0, cLen, size, vals, vs, ve)
        }
      }
    }

    /** Index-free split of a big bgzipped one-line-per-record text file
      * (.vcf.gz/.gff.gz/... with NO tabix sibling — the common landing-zone
      * shape): cut at raw compressed offsets; each reader finds its first
      * BGZF block boundary by validated magic scan and aligns to lines by
      * the Hadoop convention at block granularity
      * (BgzfBlockSplitInputStream). Gated on a 16-byte BGZF sniff — plain
      * gzip cannot be entered mid-stream and stays one task.
      */
    def bgzfBlockSplitChunks(st: FileStatus, vals: Array[String],
                             maxSplit: Long): Option[Seq[FileChunk]] = {
      val p = st.getPath.toString
      val size = st.getLen
      if (size <= maxSplit || !table.format.lineRecords) return None
      val name = st.getPath.getName.toLowerCase
      if (!(name.endsWith(".gz") || name.endsWith(".bgz"))) return None
      val isBgzf = GraftScan.cachedBgzfSniff(st) {
        try {
          val in = st.getPath.getFileSystem(hadoopConf).open(st.getPath)
          try Bgzf.looksLikeBgzf(new java.io.BufferedInputStream(in, 64))
          finally in.close()
        } catch { case _: Exception => false }
      }
      if (!isBgzf) return None
      Some((0L until size by maxSplit).map { off =>
        FileChunk(p, off, math.min(maxSplit, size - off), size, vals,
          blockSplit = true)
      })
    }

    /** Index-free split of a big UNINDEXED BGZF binary file (BAM/BCF with
      * no .bai/.csi sibling — the landing-zone shape before `samtools
      * index` runs): cut at raw compressed offsets; each reader aligns to
      * the first BGZF block at/after its cut and the FORMAT re-finds the
      * first record boundary it owns (hadoop-bam SplitGuesser technique —
      * see BamFormat.resyncRecords). Only engages for formats declaring
      * `bgzfRecordResync`; runs after bgzfFullScanChunks so an index
      * sibling, whose virtual offsets are exact record starts, always
      * wins.
      */
    def bgzfRecordSplitChunks(st: FileStatus, vals: Array[String],
                              maxSplit: Long): Option[Seq[FileChunk]] = {
      val p = st.getPath.toString
      val size = st.getLen
      if (size <= maxSplit || !table.format.bgzfRecordResync) return None
      // BAM/BCF are BGZF by definition; other resync formats (FASTA/FASTQ)
      // engage only on compressed names — the 16-byte sniff below then
      // separates BGZF (splittable) from plain gzip (one task, correct).
      val name = st.getPath.getName.toLowerCase
      if (!(name.endsWith(".bam") || name.endsWith(".bcf") ||
            Codecs.isCompressed(name))) return None
      val isBgzf = GraftScan.cachedBgzfSniff(st) {
        try {
          val in = st.getPath.getFileSystem(hadoopConf).open(st.getPath)
          try Bgzf.looksLikeBgzf(new java.io.BufferedInputStream(in, 64))
          finally in.close()
        } catch { case _: Exception => false }
      }
      if (!isBgzf) return None
      Some((0L until size by maxSplit).map { off =>
        FileChunk(p, off, math.min(maxSplit, size - off), size, vals,
          recordSplit = true)
      })
    }

    /** Index-free split of a big unindexed container file (CRAM with no
      * `.crai` sibling) by TASK-OPEN RESYNC: cut at raw offsets in O(1)
      * driver work — one cached 6-byte magic sniff, no per-container driver
      * I/O — and let each reader align itself to the first CRC-validated
      * container start it owns (CramFormat.resyncContainerStart; the
      * BAM/BCF SplitGuesser pattern at container granularity). This is the
      * scale-safe path for object-store CRAMs: the alignedCutChunks sweep
      * below, even windowed + parallel, is O(containers) driver round-trips
      * when containers outgrow the read-ahead window (every real CRAM —
      * ~1-5 MB containers). With a `.crai` the sweep path wins instead:
      * indexed starts are exact and one small read. Set
      * `graft.cram.resyncSplit.enabled=false` to fall back to the sweep.
      */
    def containerResyncSplitChunks(st: FileStatus, vals: Array[String],
                                   maxSplit: Long): Option[Seq[FileChunk]] = {
      val p = st.getPath.toString
      val size = st.getLen
      if (size <= maxSplit || !table.format.containerResync) return None
      if (!hadoopConf.getBoolean(
          s"graft.${table.format.shortName}.resyncSplit.enabled", true))
        return None
      // index-sibling veto OUTSIDE the sniff cache: a .crai dropped next to
      // an already-planned file must flip the NEXT scan to the indexed
      // path, not wait for (path, mtime, len) cache eviction
      if (table.format.resyncIndexSibling(st.getPath).exists(ip =>
          try st.getPath.getFileSystem(hadoopConf).exists(ip)
          catch { case _: Exception => false }))
        return None
      val ok = GraftScan.cachedContainerSniff(st) {
        try table.format.resyncSplitSniff(
          st.getPath.getFileSystem(hadoopConf), st.getPath)
        catch { case _: Exception => false }
      }
      if (!ok) return None
      Some((0L until size by maxSplit).map { off =>
        FileChunk(p, off, math.min(maxSplit, size - off), size, vals,
          containerSplit = true)
      })
    }

    /** Full-scan split of a big file at format-provided aligned cut points
      * (self-delimiting container/record starts — CRAM container
      * boundaries): cuts are grouped into ~maxSplit-sized chunks, each
      * reader seeks to its cut and decodes exactly the containers starting
      * inside [start, start+length). The cut sweep is driver-side, memoized,
      * and fault-tolerant — any failure falls back to one task, never a
      * mis-split. Formats without aligned cuts return null at zero cost.
      */
    def alignedCutChunks(st: FileStatus, vals: Array[String],
                         maxSplit: Long): Option[Seq[FileChunk]] = {
      val p = st.getPath.toString
      val size = st.getLen
      if (size <= maxSplit) return None
      val cuts = GraftScan.cachedAlignedCuts(st) {
        try Option(table.format.alignedCutOffsets(
          st.getPath.getFileSystem(hadoopConf), st.getPath, size))
          .filter(_.nonEmpty)
        catch { case _: Exception => None }
      }
      cuts.flatMap { offs =>
        val bounds = scala.collection.mutable.ArrayBuffer[Long](0L)
        offs.foreach { o =>
          if (o < size && o - bounds.last >= maxSplit) bounds += o
        }
        if (bounds.length < 2) None
        else {
          bounds += size
          Some(bounds.sliding(2).map { w =>
            FileChunk(p, w(0), w(1) - w(0), size, vals, alignedSplit = true)
          }.toSeq)
        }
      }
    }

    /** Full-scan split of a big BGZF binary/bgzipped file (no region needed):
      * an index sibling's chunk-begin virtual offsets are record starts, so
      * cutting the file at a subset of them yields record-aligned pieces that
      * decode in parallel — the head piece `[0, s1)` re-parses the in-stream
      * header, every later piece `[s_i, s_{i+1})` starts at a record, and the
      * tail runs to EOF so records past the last indexed one (BAM no-coor
      * unmapped reads) are kept. Coverage is purely positional — every
      * decompressed byte lands in exactly one piece — so the result is
      * independent of the chunking (BgzfSplitSpec asserts invariance).
      * Without an index the file stays one task: BGZF blocks are
      * self-delimiting but record boundaries inside them are not
      * discoverable without decoding. (The reference's BGZF-aware splits,
      * exon/exon-core/src/datasources/bam; re-planned here at the DSv2
      * partition level so a 300 GB production BAM fans out over the cluster
      * instead of decoding on one core.)
      */
    def bgzfFullScanChunks(st: FileStatus, vals: Array[String],
                           maxSplit: Long): Option[Seq[FileChunk]] = {
      val p = st.getPath.toString
      val size = st.getLen
      if (size <= maxSplit) return None
      val name = st.getPath.getName.toLowerCase
      // .bam/.bcf are BGZF natively; .gz/.bgz text is BGZF iff a tabix
      // sibling exists (plain gzip never has one). Other codecs never split.
      if (!(name.endsWith(".bam") || name.endsWith(".bcf") ||
            name.endsWith(".gz") || name.endsWith(".bgz"))) return None
      // bgzipped FASTA with .fai + .gzi siblings: record starts derive from
      // the .fai (multi-line records — the line-split path can't apply)
      if ((name.endsWith(".gz") || name.endsWith(".bgz")) &&
          table.format.splittable && !table.format.lineRecords)
        return fastaFaiGziChunks(st, vals, maxSplit)
      val idxOpt = GraftScan.cachedIndex(st) {
        if (name.endsWith(".bam")) BaiIndex.forBam(st.getPath, hadoopConf)
        else if (name.endsWith(".bcf")) CsiIndex.forBcf(st.getPath, hadoopConf)
        else TabixIndex.forFile(st.getPath, hadoopConf)
      }
      idxOpt.flatMap { idx =>
        val starts = idx.bins.iterator
          .flatMap(_.valuesIterator).flatten.map(_._1).toArray
        java.util.Arrays.sort(starts)
        // Boundary at the first record start every >= maxSplit compressed
        // bytes: pieces track the same size target as uncompressed splits.
        val points = mutable.ArrayBuffer[Long]()
        var lastC = 0L
        var i = 0
        while (i < starts.length) {
          val v = starts(i)
          val c = v >>> 16
          if (c - lastC >= maxSplit && (points.isEmpty || v > points.last)) {
            points += v
            lastC = c
          }
          i += 1
        }
        if (points.isEmpty) None
        else {
          val bounds = 0L +: points.toSeq
          Some(bounds.indices.map { i =>
            val vs = bounds(i)
            val ve = if (i + 1 < bounds.length) bounds(i + 1) else Long.MaxValue
            val cLen =
              if (ve == Long.MaxValue) math.max(1L, size - (vs >>> 16))
              else math.max(1L, (ve >>> 16) - (vs >>> 16))
            FileChunk(p, 0, cLen, size, vals, vs, ve)
          })
        }
      }
    }

    // Index pruning opens one .tbi/.bai/.csi per file; at tens of thousands
    // of indexed files on an object store (~10 ms RTT each) a serial driver
    // loop is minutes of stall. Fan the per-file index queries out over a
    // bounded pool. Full scans need the pool too when files are
    // BGZF-split-eligible (the full-scan split loads the same indexes);
    // only plans that touch no index at all stay serial (pure metadata
    // math).
    def bgzfEligible(st: FileStatus): Boolean = {
      val n = st.getPath.getName.toLowerCase
      n.endsWith(".bam") || n.endsWith(".bcf") ||
        n.endsWith(".gz") || n.endsWith(".bgz")
    }
    val needsIndexes = region.nonEmpty || pruned.exists { case (st, _) =>
      bgzfEligible(st) && st.getLen > maxSplit
    }
    val chunks: Seq[FileChunk] =
      if (!needsIndexes || pruned.size <= 1)
        pruned.flatMap { case (st, vals) => fileChunks(st, vals) }
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, pruned.size))
        try {
          val tasks: java.util.List[java.util.concurrent.Callable[Seq[FileChunk]]] =
            pruned.map { case (st, vals) =>
              (() => fileChunks(st, vals)): java.util.concurrent.Callable[Seq[FileChunk]]
            }.asJava
          pool.invokeAll(tasks).asScala.toSeq.flatMap(_.get())
        } finally pool.shutdown()
      }

    mFilesScanned = chunks.iterator.map(_.path).toSet.size.toLong
    mChunksPlanned = chunks.size.toLong
    mPlannedBytes = chunks.iterator.map(_.length).sum
    GraftScan.pack(chunks, openCost, maxSplit)
      .map(p => GraftInputPartition(p): InputPartition)
  }

  override def planInputPartitions(): Array[InputPartition] = plannedPartitions

  /** Post-pruning size estimate so Catalyst can auto-broadcast small
    * graft-format tables (the annotation-join shape: small GFF vs a big
    * fact table needs no explicit hint). Index-pruned BGZF chunks report
    * their approximate compressed span; compressed whole files report a
    * conservative inflation factor so a gzip'd table is not under-sized
    * below the broadcast threshold it would blow past in memory.
    */
  override def estimateStatistics(): Statistics = {
    val compressedInflation = 4L
    val bytes = plannedPartitions.iterator
      .flatMap(_.asInstanceOf[GraftInputPartition].chunks.iterator)
      .map { c =>
        val raw = c.length
        if (c.isBgzfChunk || Codecs.isCompressed(new Path(c.path).getName))
          raw * compressedInflation
        else raw
      }.sum
    // Exact row counts from .fai metadata (whole-file scans only): a row
    // estimate — not just bytes — lets Catalyst size joins and pick shuffle
    // parallelism. Region/limit scans return fewer rows than the index says,
    // so they report no estimate rather than a wrong one.
    val rows: Option[Long] =
      if (region.nonEmpty || limit.nonEmpty) None
      else GraftScan.indexRowCount(table.format,
        prunePartitions(table.listing._1, table.listing._2),
        SparkSession.active.sparkContext.hadoopConfiguration)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
    }
  }

  /** Pack whole-file chunks for a set of listed files (streaming batches). */
  private[sources] def packWholeFiles(
      files: Seq[(FileStatus, Array[String])]): Array[InputPartition] = {
    val spark = SparkSession.active
    val openCost = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.openCostInBytes", "4194304"))
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    val chunks = files.map { case (st, vals) =>
      FileChunk(st.getPath.toString, 0, st.getLen, st.getLen, vals)
    }
    GraftScan.pack(chunks, openCost, maxPart).map(p => GraftInputPartition(p): InputPartition)
  }

  private[sources] def readerFactory: PartitionReaderFactory = createReaderFactory()

  override def createReaderFactory(): PartitionReaderFactory = {
    val dataIdx = table.resolvedDataSchema.fieldNames.zipWithIndex.toMap
    val partIdx = table.listing._2.zipWithIndex.toMap
    // For each output field: Left(dataColIdx) or Right(partColIdx).
    val fieldSources: Array[Either[Int, Int]] = required.fieldNames.map { f =>
      dataIdx.get(f).map(Left(_)).getOrElse(Right(partIdx(f)))
    }
    // Honor nested schema pruning: where Spark pruned a struct column (e.g.
    // a typed VCF `info`), the parser must build exactly the pruned struct —
    // Spark reads the row by ordinal against the pruned type.
    val requiredTypeByName = required.fields.map(f => f.name -> f.dataType).toMap
    val parseSchema = StructType(table.resolvedDataSchema.fields.map { f =>
      requiredTypeByName.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f)
    })
    new GraftReaderFactory(
      table.format,
      parseSchema,
      new SerializableHadoopConf(SparkSession.active.sparkContext.hadoopConfiguration),
      fieldSources,
      if (table.regionsOption.nonEmpty) region else Nil,
      limit,
      outputSchema = required)
  }
}

object GraftScan {
  /** Test instrumentation: high-water mark of concurrent per-file index
    * lookups during planInputPartitions (proves the pruning fan-out).
    */
  private[sources] val activeIndexLookups = new java.util.concurrent.atomic.AtomicInteger
  private[sources] val maxConcurrentIndexLookups = new java.util.concurrent.atomic.AtomicInteger

  /** Test instrumentation: high-water mark of concurrent per-directory
    * listStatus calls during listNow (proves the listing fan-out).
    */
  private[sources] val activeListings = new java.util.concurrent.atomic.AtomicInteger
  private[sources] val maxConcurrentListings = new java.util.concurrent.atomic.AtomicInteger

  /** Exact row count from `.fai` siblings — defined only when EVERY file in
    * the set is an uncompressed FASTA with an index (one .fai line per
    * sequence). Counts are cached by (path, mtime, length); the .fai itself
    * is tiny, so a miss costs one small read, never a data-file scan.
    */
  private val faiCountCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Long]()

  private[sources] def indexRowCount(format: GraftFormat,
      files: Seq[(FileStatus, Array[String])],
      conf: org.apache.hadoop.conf.Configuration): Option[Long] = {
    if (files.isEmpty) return None
    // Exact per-file record counts from index siblings: .fai line counts
    // for FASTA; .bai metadata pseudo-bins (the `samtools idxstats`
    // numbers) for BAM. Any file without a trustworthy index degrades the
    // whole answer to None — the scan then reads data, never estimates.
    val perFile: FileStatus => Option[Long] = format.shortName match {
      case "fasta" => st =>
        val fs = st.getPath.getFileSystem(conf)
        if (!Codecs.isCompressed(st.getPath.getName))
          FaiIndex.countEntries(fs, st.getPath)
        else if (GziIndex.exists(fs, st.getPath))
          // bgzip+fai+gzi layout: the .fai still counts this file's records
          FaiIndex.countEntries(fs, st.getPath)
        else None
      case "bam" => st => BaiIndex.recordCount(st.getPath, conf)
      case _ => return None
    }
    var total = 0L
    val it = files.iterator
    while (it.hasNext) {
      val st = it.next()._1
      val key = (st.getPath.toString, st.getModificationTime, st.getLen)
      var c = faiCountCache.get(key)
      if (c == null) {
        perFile(st) match {
          case Some(n) =>
            if (faiCountCache.size > 65536) faiCountCache.clear()
            c = java.lang.Long.valueOf(n)
            faiCountCache.put(key, c)
          case None => return None
        }
      }
      total += c.longValue
    }
    Some(total)
  }

  /** Driver-side cache of parsed .tbi/.bai/.csi indexes, keyed by the data
    * file's (path, mtime, length): repeated region queries over the same
    * corpus skip the per-file index fetch+parse entirely (at object-store
    * RTTs that is the dominant planning cost). TabixIndex is immutable, so
    * sharing across queries and planner threads is safe.
    *
    * Misses (no index sibling) are NOT cached: an index dropped next to an
    * existing data file must be picked up by the next query, not ignored
    * for the JVM lifetime. Bounded LRU (insertion order) — eviction drops
    * only the oldest entry, never the whole map; correctness never depends
    * on a hit.
    */
  private val indexCacheCapacity = 4096
  private val indexCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long), TabixIndex](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long), TabixIndex]): Boolean =
          size() > indexCacheCapacity
      })

  private[sources] def cachedIndex(st: FileStatus)(
      load: => Option[TabixIndex]): Option[TabixIndex] = {
    val key = (st.getPath.toString, st.getModificationTime, st.getLen)
    Option(indexCache.get(key)).orElse {
      // Not synchronized around the load: a concurrent duplicate parse is
      // harmless (immutable value, last-write-wins), while holding the map
      // lock across an object-store fetch would serialize the pruning pool.
      val loaded = load
      loaded.foreach(idx => indexCache.put(key, idx))
      loaded
    }
  }

  // BGZF sniff results (16-byte probe) and fai+gzi full-scan cut points:
  // both are per-(file, mtime, size[, maxSplit]) planning work that repeat
  // queries would otherwise redo — one open per big .gz per PLAN is an RTT
  // per file on an object store. Same LRU discipline as the index cache.
  private val bgzfSniffCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long), java.lang.Boolean](
        256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long), java.lang.Boolean]): Boolean =
          size() > indexCacheCapacity
      })

  private[sources] def cachedBgzfSniff(st: FileStatus)(probe: => Boolean): Boolean = {
    val key = (st.getPath.toString, st.getModificationTime, st.getLen)
    val c = bgzfSniffCache.get(key)
    if (c != null) c.booleanValue()
    else { val v = probe; bgzfSniffCache.put(key, java.lang.Boolean.valueOf(v)); v }
  }

  private val containerSniffCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long), java.lang.Boolean](
        256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long), java.lang.Boolean]): Boolean =
          size() > indexCacheCapacity
      })

  /** Memoized resync-splittability sniff for container formats (CRAM magic
    * + no index sibling) — the only driver I/O the task-open resync split
    * does, so planning stays O(1) per file on an object store.
    */
  private[sources] def cachedContainerSniff(st: FileStatus)(probe: => Boolean): Boolean = {
    val key = (st.getPath.toString, st.getModificationTime, st.getLen)
    val c = containerSniffCache.get(key)
    if (c != null) c.booleanValue()
    else { val v = probe; containerSniffCache.put(key, java.lang.Boolean.valueOf(v)); v }
  }

  private val fastaCutCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long, Long), Option[Seq[Long]]](
        256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long, Long), Option[Seq[Long]]]): Boolean =
          size() > indexCacheCapacity
      })

  /** Validated fasta fai+gzi cut virtual offsets, or None when splitting
    * was abandoned — memoized because each cut's validation decodes one
    * BGZF block on the driver.
    */
  private[sources] def cachedFastaCuts(st: FileStatus, maxSplit: Long)(
      compute: => Option[Seq[Long]]): Option[Seq[Long]] = {
    val key = (st.getPath.toString, st.getModificationTime, st.getLen, maxSplit)
    val c = fastaCutCache.get(key)
    if (c != null) c
    else { val v = compute; fastaCutCache.put(key, v); v }
  }

  private val alignedCutCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long), Option[Array[Long]]](
        256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long), Option[Array[Long]]]): Boolean =
          size() > indexCacheCapacity
      })

  /** Format-provided aligned cut offsets (CRAM container starts), or None
    * when the format has none / the sweep refused — memoized because the
    * no-index sweep reads one header per container on the driver. Keyed
    * without maxSplit: the offsets are maxSplit-independent; chunk grouping
    * is recomputed cheaply per plan.
    */
  private[sources] def cachedAlignedCuts(st: FileStatus)(
      compute: => Option[Array[Long]]): Option[Array[Long]] = {
    val key = (st.getPath.toString, st.getModificationTime, st.getLen)
    val c = alignedCutCache.get(key)
    if (c != null) c
    else { val v = compute; alignedCutCache.put(key, v); v }
  }

  /** Coalesce BGZF virtual-position ranges: sort by start, merge any that
    * overlap or touch. Ranges are (vStart, vEnd) virtual offsets; a record
    * beginning inside one merged range is decoded exactly once.
    */
  def mergeVirtualRanges(ranges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    if (ranges.isEmpty) return ranges
    val sorted = ranges.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)](sorted.head)
    sorted.tail.foreach { case (s, e) =>
      val (ls, le) = out.last
      if (s <= le) { if (e > le) out(out.length - 1) = (ls, e) }
      else out += ((s, e))
    }
    out.toSeq
  }

  /** Size-based chunk packing (mirrors Spark's FilePartition packing) so
    * thousands of small files don't become thousands of tasks. Sort once by
    * descending size, then fill partitions in a single pass, opening a new
    * one when the running cost would exceed the target — O(n log n) in the
    * chunk count, so a million-file listing packs in milliseconds (a
    * first-fit scan here is O(n^2) and costs minutes of driver time).
    */
  def pack(chunks: Seq[FileChunk], openCost: Long, maxSplit: Long): Array[Array[FileChunk]] = {
    val sorted = chunks.sortBy(-_.length)
    val partitions = mutable.ArrayBuffer[Array[FileChunk]]()
    val current = mutable.ArrayBuffer[FileChunk]()
    var curSize = 0L
    sorted.foreach { c =>
      val cost = c.length + openCost
      if (current.nonEmpty && curSize + cost > maxSplit) {
        partitions += current.toArray
        current.clear()
        curSize = 0L
      }
      current += c
      curSize += cost
    }
    if (current.nonEmpty) partitions += current.toArray
    partitions.toArray
  }
}

final class GraftReaderFactory(format: GraftFormat, dataSchema: StructType,
                               conf: SerializableHadoopConf,
                               fieldSources: Array[Either[Int, Int]],
                               rowRegion: Seq[(String, Long, Long)],
                               limit: Option[Int] = None,
                               outputSchema: StructType = null)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val chunks = partition.asInstanceOf[GraftInputPartition].chunks
    new GraftPartitionReader(format, dataSchema, conf.value, chunks, fieldSources, rowRegion,
      limit)
  }

  /** Columnar scan path: when every projected column is a primitive,
    * string, or binary type the reader emits ColumnarBatch directly, so
    * scan-bound queries stay vectorized end-to-end (Spark's ColumnarToRow
    * is codegen'd; per-row GenericInternalRow allocation disappears from
    * the hot loop). This includes the empty count(*) projection.
    * Primitives fill OnHeapColumnVectors (downstream codegen reads them
    * unboxed); strings/binaries fill a REFERENCE vector (RefColumnVector)
    * that hands Spark the parser's UTF8String without re-copying its
    * bytes — an earlier attempt that appended string bytes into on-heap
    * vectors regressed b02 ~15% on exactly that copy. Nested types keep
    * the row path.
    */
  private val columnarEligible: Boolean =
    outputSchema != null && outputSchema.fields.forall(f => f.dataType match {
      case IntegerType | LongType | DoubleType | FloatType |
           BooleanType | ShortType | ByteType => true
      case StringType | BinaryType => true
      case _ => false
    })

  override def supportColumnarReads(partition: InputPartition): Boolean = columnarEligible

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val chunks = partition.asInstanceOf[GraftInputPartition].chunks
    val rows = new GraftPartitionReader(format, dataSchema, conf.value, chunks,
      fieldSources, rowRegion, limit)
    new GraftColumnarReader(rows, outputSchema)
  }
}

/** Reference-holding column vector for string/binary columns: stores the
  * parser's UTF8String / byte-array values directly (one array store per
  * cell, zero byte copies) and hands the same reference back to Spark's
  * codegen. Safe because the text parsers allocate fresh value objects per
  * record (no buffer reuse), and every cell in [0, numRows) is re-written
  * on each batch.
  */
final class RefColumnVector(dt: DataType, capacity: Int)
  extends org.apache.spark.sql.vectorized.ColumnVector(dt) {
  private val values = new Array[AnyRef](capacity)
  private var nullCount = 0
  def put(i: Int, v: AnyRef): Unit = values(i) = v
  def putNull(i: Int): Unit = { values(i) = null; nullCount += 1 }
  /** Called once per batch before refill; keeps numNulls() exact for the
    * rows of the CURRENT batch (every live cell is re-written each fill).
    */
  def resetNulls(): Unit = nullCount = 0
  override def close(): Unit = ()
  override def hasNull: Boolean = nullCount > 0
  override def numNulls(): Int = nullCount
  override def isNullAt(i: Int): Boolean = values(i) == null
  override def getUTF8String(i: Int): UTF8String =
    values(i).asInstanceOf[UTF8String]
  override def getBinary(i: Int): Array[Byte] =
    values(i).asInstanceOf[Array[Byte]]
  private def unsupported: Nothing =
    throw new UnsupportedOperationException(s"RefColumnVector($dt)")
  override def getBoolean(i: Int): Boolean = unsupported
  override def getByte(i: Int): Byte = unsupported
  override def getShort(i: Int): Short = unsupported
  override def getInt(i: Int): Int = unsupported
  override def getLong(i: Int): Long = unsupported
  override def getFloat(i: Int): Float = unsupported
  override def getDouble(i: Int): Double = unsupported
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    unsupported
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    unsupported
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    unsupported
  override def getChild(i: Int): org.apache.spark.sql.vectorized.ColumnVector =
    unsupported
}

/** Packs the row reader's raw values into column vectors, 4096 rows per
  * batch: on-heap primitive vectors (codegen reads them unboxed) and
  * reference vectors for string/binary (no byte re-copy).
  */
object GraftColumnarReader {
  /** Single-abstract-method cell writers with a PRIMITIVE Int row index —
    * see the boxing note at the setters array.
    */
  trait Setter { def set(v: org.apache.spark.sql.vectorized.ColumnVector,
    n: Int, x: Any): Unit }
  trait Nuller { def putNull(v: org.apache.spark.sql.vectorized.ColumnVector,
    n: Int): Unit }
}

final class GraftColumnarReader(rows: GraftPartitionReader, schema: StructType)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    rows.currentMetricsValues()

  private val capacity = 4096
  private val vectors: Array[org.apache.spark.sql.vectorized.ColumnVector] =
    schema.fields.map { f =>
      f.dataType match {
        case StringType | BinaryType =>
          new RefColumnVector(f.dataType, capacity)
            : org.apache.spark.sql.vectorized.ColumnVector
        case dt =>
          new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector(
            capacity, dt): org.apache.spark.sql.vectorized.ColumnVector
      }
    }
  private val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(vectors)

  /** One setter per column, resolved once at construction: the per-value
    * loop below is the single hottest loop of the columnar path and must
    * not re-match DataType (megamorphic dispatch) for every cell.
    */
  private type Setter =
    GraftColumnarReader.Setter
  private type OnHeap = org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  // SAM traits with a primitive Int row index, NOT Function2/3: the generic
  // apply erases to (Object, Object[, Object]), so a scala.Function here
  // boxed the row index for EVERY CELL of every batch (Integer.valueOf was
  // 13% of the CRAM decode profile; batch rows beyond 127 miss the Integer
  // cache and allocate).
  private val setters: Array[Setter] = schema.fields.map { f =>
    (f.dataType match {
      case StringType | BinaryType =>
        (v, n, x) => v.asInstanceOf[RefColumnVector].put(n, x.asInstanceOf[AnyRef])
      case LongType => (v, n, x) => v.asInstanceOf[OnHeap].putLong(n, x.asInstanceOf[Long])
      case IntegerType => (v, n, x) => v.asInstanceOf[OnHeap].putInt(n, x.asInstanceOf[Int])
      case DoubleType => (v, n, x) => v.asInstanceOf[OnHeap].putDouble(n, x.asInstanceOf[Double])
      case FloatType => (v, n, x) => v.asInstanceOf[OnHeap].putFloat(n, x.asInstanceOf[Float])
      case BooleanType => (v, n, x) => v.asInstanceOf[OnHeap].putBoolean(n, x.asInstanceOf[Boolean])
      case ShortType => (v, n, x) => v.asInstanceOf[OnHeap].putShort(n, x.asInstanceOf[Short])
      case ByteType => (v, n, x) => v.asInstanceOf[OnHeap].putByte(n, x.asInstanceOf[Byte])
      case other => throw new IllegalStateException(
        s"columnar reader on unsupported type $other")
    }): Setter
  }
  private val nullers: Array[GraftColumnarReader.Nuller] =
    schema.fields.map { f =>
      (f.dataType match {
        case StringType | BinaryType =>
          (v, n) => v.asInstanceOf[RefColumnVector].putNull(n)
        case _ => (v, n) => v.asInstanceOf[OnHeap].putNull(n)
      }): GraftColumnarReader.Nuller
    }

  override def next(): Boolean = {
    var i = 0
    while (i < vectors.length) {
      vectors(i) match {
        case oh: OnHeap => oh.reset()
        case rv: RefColumnVector => rv.resetNulls() // cells re-written below
        case _ => ()
      }
      i += 1
    }
    var n = 0
    while (n < capacity && rows.next()) {
      val vals = rows.currentValues
      var c = 0
      while (c < vectors.length) {
        val v = vals(c)
        if (v == null) nullers(c).putNull(vectors(c), n)
        else setters(c).set(vectors(c), n, v)
        c += 1
      }
      n += 1
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
  override def close(): Unit = {
    rows.close()
    batch.close()
  }
}

/** Executor-side reader: iterates the partition's chunks, decompressing and
  * aligning each to a record boundary, parsing only the required data columns
  * and splicing in the per-file hive partition values.
  */
final class GraftPartitionReader(format: GraftFormat, dataSchema: StructType,
                                 conf: Configuration,
                                 chunks: Array[FileChunk],
                                 fieldSources: Array[Either[Int, Int]],
                                 rowRegion: Seq[(String, Long, Long)],
                                 limit: Option[Int] = None)
  extends PartitionReader[InternalRow] {

  // Required data columns, in output order.
  private val requiredData: Array[Int] = fieldSources.collect { case Left(i) => i }

  // With an explicit region option, the parser must also produce the
  // coordinate columns (appended past the projected ones) so rows can be
  // filtered here.
  private val (parseCols: Array[Int], regionPos: Option[(Int, Int, Int)]) =
    (rowRegion.headOption, format.regionColumns) match {
      case (Some(_), Some((c, st, en))) =>
        val names = dataSchema.fieldNames
        val idxs = Seq(names.indexOf(c), names.indexOf(st), names.indexOf(en))
        var all = requiredData
        idxs.foreach(i => if (!all.contains(i)) all = all :+ i)
        (all, Some((all.indexOf(idxs(0)), all.indexOf(idxs(1)), all.indexOf(idxs(2)))))
      case _ => (requiredData, None)
    }
  // Output position -> position in the parser's output array.
  private val dataOutPos: Array[Int] = fieldSources.zipWithIndex.collect {
    case (Left(_), outPos) => outPos
  }
  private val partOutPos: Array[(Int, Int)] = fieldSources.zipWithIndex.collect {
    case (Right(p), outPos) => (outPos, p)
  }

  private var chunkIdx = -1
  private var stream: java.io.InputStream = _
  private var it: Iterator[Array[Any]] = Iterator.empty
  private var partVals: Array[Any] = Array.empty
  private var current: Array[Any] = _

  private def openNextChunk(): Boolean = {
    closeStream()
    chunkIdx += 1
    if (chunkIdx >= chunks.length) return false
    mChunksRead += 1
    val c = chunks(chunkIdx)
    val path = new Path(c.path)
    val fs = path.getFileSystem(conf)
    // The listing's length goes along, so an object store skips the HEAD
    // a plain open() sends to learn it.
    val status = new FileStatus(c.fileSize, false, 1, 0L, 0L, path)
    val open = () => org.apache.hadoop.util.functional.FutureIO.awaitFuture(
      fs.openFile(path).withFileStatus(status).build())
    val raw = open()
    val compressed = Codecs.isCompressed(path.getName)
    val isSplit = c.start > 0 && !c.isBgzfChunk && !c.blockSplit &&
      !c.recordSplit && !c.alignedSplit && !c.containerSplit
    var resync: BgzfResyncInputStream = null
    val mkLines: () => ByteLineReader =
      if (c.recordSplit) {
        // binary record-resync chunk: the FORMAT consumes `resync` directly
        // (BAM/BCF record boundaries are not lines)
        resync = new BgzfResyncInputStream(raw, c.start, c.start + c.length,
          c.fileSize)
        stream = resync
        () => throw new IllegalStateException(
          "record-resync chunks have no line view")
      } else if (c.alignedSplit) {
        // aligned container chunk (CRAM): the cut IS a container start, so
        // the format consumes the raw stream from there directly
        if (c.start > 0) raw.seek(c.start)
        stream = raw
        () => throw new IllegalStateException(
          "aligned container chunks have no line view")
      } else if (c.containerSplit) {
        // container-resync chunk (CRAM): the cut is a RAW offset; the
        // format re-finds the first CRC-validated container start it owns
        // and seeks there itself (task-open resync)
        stream = raw
        () => throw new IllegalStateException(
          "container-resync chunks have no line view")
      } else if (c.blockSplit) {
        stream = new BgzfBlockSplitInputStream(raw, c.start, c.start + c.length,
          c.fileSize)
        val s = stream
        () => {
          val r = new ByteLineReader(s, 0L)
          // Hadoop convention at block granularity: the predecessor chunk
          // always serves through the first '\n' past the boundary, so a
          // mid-file chunk always discards its first line.
          if (c.start > 0) r.readLine()
          r
        }
      } else if (c.isBgzfChunk) {
        stream = new BgzfChunkInputStream(raw, c.vStart, c.vEnd)
        val s = stream
        () => new ByteLineReader(s, 0L)
      } else if (compressed) {
        stream = Codecs.wrap(path.getName, raw)
        val s = stream
        () => new ByteLineReader(s, 0L)
      } else if (isSplit) {
        stream = raw
        () => {
          // Hadoop convention: back up one byte and discard one (partial)
          // line; a line starting exactly at c.start is correctly kept.
          raw.seek(c.start - 1)
          val r = new ByteLineReader(raw, c.start - 1)
          r.readLine()
          r
        }
      } else {
        stream = raw
        val s = stream
        () => new ByteLineReader(s, 0L)
      }
    val end = if (c.isWholeFile || compressed || c.isBgzfChunk) Long.MaxValue
              else c.start + c.length
    partVals = c.partValues.map(v =>
      (if (v == null) null else UTF8String.fromString(v)): Any)
    val reopen = () => open(): java.io.InputStream
    it = format.records(
      new RecordInput(mkLines, stream, end, isSplit, c.isBgzfChunk, reopen, path, fs,
        startsAtFileStart = !isSplit && (!c.isBgzfChunk || c.vStart == 0L) &&
          (!c.blockSplit || c.start == 0L) && (!c.recordSplit || c.start == 0L) &&
          (!c.alignedSplit || c.start == 0L) &&
          (!c.containerSplit || c.start == 0L),
        resync = resync,
        startOffset = if (c.alignedSplit || c.containerSplit) c.start else 0L,
        containerResyncSplit = c.containerSplit,
        fileSize = c.fileSize),
      dataSchema, parseCols)
    true
  }

  /** Region row filter for the option-region path (overlap semantics; for
    * point formats start==end so this is containment).
    */
  private def inRegion(data: Array[Any]): Boolean = regionPos match {
    case Some((cp, sp, ep)) if rowRegion.nonEmpty =>
      val cv = data(cp)
      if (cv == null) return false
      val cs = cv.toString
      val sv = data(sp); val ev = data(ep)
      if (sv == null || ev == null) return false
      val s = sv.asInstanceOf[Number].longValue()
      val e = ev.asInstanceOf[Number].longValue()
      // region [lo, hi] is 1-based inclusive; 0-based half-open records
      // [s, e) overlap it iff s <= hi-1 && e >= lo. A row passes if it
      // overlaps ANY requested region.
      rowRegion.exists { case (chrom, lo, hi) =>
        cs == chrom &&
          (if (format.zeroBasedHalfOpen) s <= hi - 1 && e >= lo
           else s <= hi && e >= lo)
      }
    case _ => true
  }

  private def closeStream(): Unit = {
    if (stream != null) { try stream.close() catch { case _: Throwable => () }; stream = null }
  }

  private var emitted = 0L
  private var mParsed = 0L
  private var mChunksRead = 0L

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(GraftTaskMetric("chunksRead", mChunksRead),
      GraftTaskMetric("recordsParsed", mParsed))

  // Reused output buffer: the DSv2 PartitionReader contract keeps a row
  // valid only until the next next() call (consumers copy if they retain),
  // so one buffer serves every record — a per-record Array[Any] allocation
  // showed at 13% of the CRAM decode profile.
  private val outRow = new Array[Any](fieldSources.length)

  override def next(): Boolean = {
    if (limit.exists(emitted >= _)) return false // pushed limit: stop early
    var data: Array[Any] = null
    while (data == null) {
      while (!it.hasNext) {
        if (!openNextChunk()) return false
      }
      val candidate = it.next()
      mParsed += 1
      if (inRegion(candidate)) data = candidate
    }
    var i = 0
    while (i < requiredData.length) { outRow(dataOutPos(i)) = data(i); i += 1 }
    partOutPos.foreach { case (outPos, p) => outRow(outPos) = partVals(p) }
    current = outRow
    emitted += 1
    true
  }

  /** Output-ordered values of the current record (the columnar reader
    * packs these into vectors without materialising an InternalRow).
    */
  private[sources] def currentValues: Array[Any] = current

  // one wrapper for the one buffer: same validity contract as outRow
  private val outInternalRow = new GenericInternalRow(outRow)
  override def get(): InternalRow = outInternalRow
  override def close(): Unit = closeStream()
}
