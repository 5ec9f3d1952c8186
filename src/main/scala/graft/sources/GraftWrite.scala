package graft.sources

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** Graft's sinks (the Spark equivalent of the reference's `COPY ... STORED
  * AS FASTA/FASTQ`, sinks/simple_record_sink.rs:81-119). Unlike the
  * reference's single-file sink, each task writes its own part file —
  * parallel by construction. One commit protocol serves every format
  * ([[GraftWriteBuilder]] down to [[GraftDataWriter]]); a format supplies
  * only a [[SinkJob]] (options and header, resolved on the driver) and the
  * [[SinkEncoder]] that job opens per part (rows in, sibling indexes out).
  */
case object GraftCommitted extends WriterCommitMessage

trait WritableGraftFormat extends GraftFormat {
  /** Append one record (values in dataSchema order, nulls allowed where the
    * schema allows) to the output.
    */
  def writeRecord(values: Array[Any], out: StringBuilder): Unit

  /** Header block ('#' lines etc.) written once at the top of each file. */
  def fileHeader: Option[String] = None

  /** Flat-file per-record index line (the `.fai` family): given the record
    * values and the byte offset where the record starts in the uncompressed
    * output, return one index line. Consulted for uncompressed writes and
    * for bgzf writes of `writesFai` formats (`.fai` offsets are
    * uncompressed-domain in both cases — under bgzf the sibling `.gzi`
    * does the compressed mapping); when any line is produced the task
    * commits a sibling `<part>.fai` alongside the data file.
    */
  def faiLine(values: Array[Any], recordStart: Long): Option[String] = None

  /** True when faiLine produces a usable `.fai` — enables
    * `option("compression","bgzf")` on non-coordinate formats (FASTA): the
    * sink then commits `.fai` + `.gzi` siblings so the compressed output
    * still supports `samtools faidx`-style region seeks.
    */
  def writesFai: Boolean = false
}

/** A writable format whose records carry genomic coordinates, enabling the
  * bgzf+`.tbi` sink shape: `option("compression","bgzf")` writes seekable
  * bgzip part files, each with its own sibling tabix index, so region
  * queries prune the sink's own output. Sharded per task — the
  * distributed analog of `bgzip && tabix`, which neither tool nor the
  * reference can produce in parallel.
  */
trait IndexableGraftFormat extends WritableGraftFormat {
  /** (sequence name, 0-based begin, 0-based-exclusive end) of one record. */
  def recordRegion(values: Array[Any]): (String, Long, Long)

  /** Tabix preset header (format flags, seq col, begin col, end col) for
    * external consumers; defaults to the VCF preset.
    */
  def tabixPreset: (Int, Int, Int, Int) = (2, 1, 2, 0)
}

/** The driver half of a sink: its options and header, resolved once per
  * job and shipped to every task.
  */
trait SinkJob extends Serializable {
  /** Columns the encoder reads, matched to the input columns by name. */
  def dataSchema: StructType

  /** Part file extension, without the leading dot. */
  def extension: String

  /** Suffixes of the sibling indexes a part may carry (".tbi", ...). */
  def siblings: Seq[String]

  /** Driver-side check of the input columns. */
  def checkInput(input: StructType): Unit = ()

  /** The encoder of one part file, writing to `out`. */
  def open(out: OutputStream, fileName: String): SinkEncoder

  /** Input position of each dataSchema column, -1 when absent. */
  final def sourceIndexes(input: StructType): Array[Int] = {
    checkInput(input)
    dataSchema.fieldNames.map(f => input.fieldNames.indexWhere(_.equalsIgnoreCase(f)))
  }
}

/** The task half of a sink: encodes the rows of one part file. */
trait SinkEncoder {
  /** One row in dataSchema order; `values` is reused for the next row. */
  def write(values: Array[Any]): Unit

  /** Ends the data file, closing its stream, and returns each sibling
    * index to commit as (suffix, serializer).
    */
  def finish(): Seq[(String, OutputStream => Unit)]

  /** Closes the stream of a part that will not be committed. */
  def close(): Unit
}

final class GraftWriteBuilder(table: GraftTable, info: LogicalWriteInfo,
                              resolve: Configuration => SinkJob)
  extends WriteBuilder with SupportsTruncate {

  private val dir = table.paths.head
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** The job, resolved before the target is truncated (a rejected option
    * leaves the old output in place), and the conf to ship with it.
    */
  private def prepare(): (SinkJob, SerializableHadoopConf) = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val job = resolve(conf)
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    if (doTruncate && fs.exists(path)) fs.delete(path, true)
    fs.mkdirs(path)
    (job, new SerializableHadoopConf(conf))
  }

  override def build(): Write = new Write {
    // Per-job temp namespace (Spark's FileOutputCommitter does the same):
    // two concurrent appends to one directory must not delete each
    // other's in-flight task files at job commit/abort.
    override def toBatch: BatchWrite = {
      val (job, conf) = prepare()
      new GraftBatchWrite(job, dir, info.schema(), conf, UUID.randomUUID().toString)
    }

    // writeStream.format("fasta")... — append-only like Spark's file sink.
    // Each epoch's part names are deterministic (epoch, partition), so a
    // replayed epoch after failure overwrites its own files: idempotent
    // exactly-once output without a metadata log.
    override def toStreaming: StreamingWrite = {
      if (doTruncate)
        throw new UnsupportedOperationException(
          s"${table.format.shortName} streaming sink is append-only (like Spark's " +
            "file sink); use outputMode(\"append\")")
      val (job, conf) = prepare()
      new GraftStreamingWrite(job, dir, info.schema(), conf, info.queryId())
    }
  }
}

final class GraftBatchWrite(job: SinkJob, dir: String, schema: StructType,
                            conf: SerializableHadoopConf, jobId: String)
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDataWriterFactory(job, dir, job.sourceIndexes(schema), conf, jobId)

  // Task outputs land in dir/_temporary/<jobId> and are renamed into place
  // on task commit, so a task that dies mid-write never leaves a visible
  // partial part file (listings skip '_'-prefixed names as an extra
  // guard). Job commit/abort clears only THIS job's temp subtree — so two
  // concurrent appends cannot delete each other's in-flight files — then
  // the parent if empty. Subtrees of a job whose JVM died without
  // commit/abort stay behind; the OPT-IN sweep below reclaims them, gated
  // on an explicit TTL because any mtime heuristic can misfire (object
  // stores report 0/unreliable directory mtimes, and a >TTL straggler
  // task would lose its in-flight files): set
  // spark.hadoop.graft.write.orphanTempTtlMs to a duration safely above
  // the longest job you run concurrently against the directory.
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteTemp.clean(dir, jobId, conf.value)
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteTemp.clean(dir, jobId, conf.value)
}

/** Streaming flavor of [[GraftBatchWrite]]: one job-temp namespace per
  * (queryId, epoch), deterministic part names per (epoch, partition).
  */
final class GraftStreamingWrite(job: SinkJob, dir: String, schema: StructType,
                                conf: SerializableHadoopConf, queryId: String)
  extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamingDataWriterFactory(job, dir, job.sourceIndexes(schema), conf, queryId)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftWriteTemp.clean(dir, s"$queryId-$epochId", conf.value)
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftWriteTemp.clean(dir, s"$queryId-$epochId", conf.value)
}

final class GraftStreamingDataWriterFactory(job: SinkJob, dir: String, srcIdx: Array[Int],
                                            conf: SerializableHadoopConf, queryId: String)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(job, dir, srcIdx, conf, partitionId, taskId,
      s"$queryId-$epochId", stream = Some((queryId, epochId)))
}

/** Job-temp cleanup shared by the batch and streaming writes. */
object GraftWriteTemp {
  def clean(dir: String, jobId: String, conf: Configuration): Unit = {
    val parent = new Path(dir, "_temporary")
    val tmp = new Path(parent, jobId)
    val fs = tmp.getFileSystem(conf)
    try {
      fs.delete(tmp, true)
      val ttl = conf.getLong("graft.write.orphanTempTtlMs", -1L)
      if (ttl > 0) {
        val cutoff = System.currentTimeMillis() - ttl
        fs.listStatus(parent).foreach { st =>
          // mtime 0 = filesystem doesn't track it; never sweep on a guess
          if (st.getModificationTime > 0 && st.getModificationTime < cutoff)
            fs.delete(st.getPath, true)
        }
      }
      if (fs.listStatus(parent).isEmpty) fs.delete(parent, false)
    } catch { case NonFatal(_) => () }
  }
}

final class GraftDataWriterFactory(job: SinkJob, dir: String, srcIdx: Array[Int],
                                   conf: SerializableHadoopConf, jobId: String)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(job, dir, srcIdx, conf, partitionId, taskId, jobId)
}

/** One task's part file: written under the job's temp namespace, opened on
  * the first row (a task that receives none commits no file), and renamed
  * into place with its sibling indexes at task commit.
  */
final class GraftDataWriter(job: SinkJob, dir: String, srcIdx: Array[Int],
                            conf: SerializableHadoopConf, partitionId: Int,
                            taskId: Long, jobId: String,
                            stream: Option[(String, Long)] = None)
  extends DataWriter[InternalRow] {

  // Batch parts get a random suffix (append-friendly, collision-free);
  // streaming parts are DETERMINISTIC per (queryId, epoch, partition) so a
  // replayed epoch overwrites its OWN output instead of duplicating it —
  // the queryId prefix scopes that overwrite: a different query (fresh
  // checkpoint, epochs restarting at 0) appending to the same directory
  // can never clobber this one's committed parts.
  private val fileName = stream match {
    case Some((queryId, epoch)) =>
      val qid = queryId.replaceAll("[^A-Za-z0-9]", "").take(8)
      f"part-$qid%s-$epoch%06d-$partitionId%05d.${job.extension}"
    case None =>
      f"part-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}.${job.extension}"
  }
  // concurrent attempts of one streaming (epoch, partition) get distinct
  // temp names (taskId) — the commit coordinator lets only one attempt
  // rename into place
  private val tmpName = if (stream.isDefined) s"$fileName.t$taskId" else fileName
  private val tmpPath = new Path(new Path(new Path(dir, "_temporary"), jobId), tmpName)
  private val path = new Path(dir, fileName)

  private val dataTypes = job.dataSchema.fields.map(_.dataType)
  private val values = new Array[Any](srcIdx.length)
  private var raw: OutputStream = _
  private var enc: SinkEncoder = _

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < srcIdx.length) {
      val s = srcIdx(i)
      values(i) = if (s < 0 || row.isNullAt(s)) null else row.get(s, dataTypes(i))
      i += 1
    }
    if (enc == null) {
      raw = tmpPath.getFileSystem(conf.value).create(tmpPath, true)
      enc = job.open(raw, fileName)
    }
    enc.write(values)
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"failed to commit $from -> $to")

  override def commit(): WriterCommitMessage = {
    if (enc != null) {
      val fs = path.getFileSystem(conf.value)
      // a replayed streaming epoch re-commits the same deterministic names:
      // clear the previous attempt's files so rename lands (idempotent)
      if (stream.isDefined)
        (path +: job.siblings.map(path.suffix)).foreach { p =>
          if (fs.exists(p)) fs.delete(p, false)
        }
      enc.finish().foreach { case (suffix, serialize) =>
        val tmp = tmpPath.suffix(suffix)
        val os = fs.create(tmp, true)
        try serialize(os) finally os.close()
        rename(fs, tmp, path.suffix(suffix))
      }
      rename(fs, tmpPath, path)
    }
    GraftCommitted
  }

  override def abort(): Unit = {
    if (raw != null) {
      try { if (enc != null) enc.close() else raw.close() }
      catch { case NonFatal(_) => () }
      val fs = tmpPath.getFileSystem(conf.value)
      (tmpPath +: job.siblings.map(tmpPath.suffix)).foreach(fs.delete(_, false))
    }
  }
  override def close(): Unit = ()
}

/** Text sinks: plain, gzip or zstd part files, or bgzf with a sibling
  * `.tbi` (coordinate formats) or `.fai` + `.gzi` (FASTA). An uncompressed
  * part of a `.fai` format commits its `.fai` too.
  */
final class TextSink(format: WritableGraftFormat, compression: String) extends SinkJob {
  private val indexable = format.isInstanceOf[IndexableGraftFormat]

  val extension: String = format.defaultExtensions.head + (compression match {
    case "gzip" | "bgzf" => ".gz"
    case "zstd" => ".zst"
    case "none" | "" => ""
    case other => throw new IllegalArgumentException(
      s"unsupported write compression '$other' (gzip, bgzf, zstd, none)")
  })
  if (compression == "bgzf" && !(indexable || format.writesFai))
    throw new IllegalArgumentException(
      s"${format.shortName}: bgzf compression is for indexable formats " +
        "(the point is the sibling .tbi or .fai+.gzi); use gzip here")

  def dataSchema: StructType = format.dataSchema
  def siblings: Seq[String] = compression match {
    case "bgzf" => if (indexable) Seq(".tbi") else Seq(".fai", ".gzi")
    case "none" | "" => Seq(".fai")
    case _ => Nil
  }
  def open(out: OutputStream, fileName: String): SinkEncoder =
    new TextEncoder(format, compression, out)
}

object TextSink {
  def apply(format: WritableGraftFormat, options: Map[String, String]): TextSink =
    new TextSink(format, options.getOrElse("compression", "none").toLowerCase)
}

private final class TextEncoder(format: WritableGraftFormat, compression: String,
                                raw: OutputStream) extends SinkEncoder {
  // bgzf mode family: coordinate formats index with tabix; fai formats
  // (FASTA) keep uncompressed-domain .fai offsets + a .gzi block map
  private val bgzfFai = compression == "bgzf" &&
    !format.isInstanceOf[IndexableGraftFormat]
  private val bgzf =
    if (compression == "bgzf") new BgzfWriter(new BufferedOutputStream(raw, 1 << 16))
    else null
  private val tbi = if (bgzf != null && !bgzfFai) new TabixWriter() else null
  private val out: OutputStream = compression match {
    case "gzip" => new java.util.zip.GZIPOutputStream(raw, 1 << 16)
    case "zstd" => new com.github.luben.zstd.ZstdOutputStream(raw)
    case "bgzf" => null
    case _ => new BufferedOutputStream(raw, 1 << 16)
  }
  // tabix precondition: per file, chroms grouped and starts ascending
  private var lastTid = -1
  private var lastBeg = -1L

  // uncompressed byte position (drives faiLine): plain-file position for
  // uncompressed writes, pre-compression position for bgzf+fai writes
  // (the .gzi maps it to compressed blocks)
  private var plainOffset = 0L
  private val faiSb =
    if (compression == "none" || compression.isEmpty || bgzfFai)
      new StringBuilder
    else null

  private val sb = new StringBuilder(1 << 14)

  format.fileHeader.foreach { h =>
    val b = h.getBytes(UTF_8)
    if (bgzf != null) bgzf.write(b) else out.write(b)
    plainOffset += b.length
  }

  override def write(values: Array[Any]): Unit = {
    sb.setLength(0)
    format.writeRecord(values, sb)
    val bytes = sb.toString.getBytes(UTF_8)
    if (tbi != null) {
      val (chrom, beg0, end0) = format.asInstanceOf[IndexableGraftFormat]
        .recordRegion(values)
      val t = tbi.tid(chrom)
      // a broken ordering would produce a silently-wrong index — refuse
      if (t < lastTid || (t == lastTid && beg0 < lastBeg) ||
          (t != lastTid && t != lastTid + 1 && lastTid >= 0))
        throw new IllegalArgumentException(
          s"bgzf+tabix write requires rows sorted by (chrom, pos) within " +
            s"each partition and chroms not interleaved; got $chrom:${beg0 + 1} " +
            "after a later record. Sort with " +
            "df.repartitionByRange(...).sortWithinPartitions(\"chrom\", \"pos\")")
      lastTid = t; lastBeg = beg0
      val vs = bgzf.virtualPos
      bgzf.write(bytes)
      tbi.add(t, beg0, end0, vs, bgzf.virtualPos)
    } else {
      // uncompressed, gzip/zstd, or bgzf+fai (uncompressed-domain index
      // line, compressed output)
      if (faiSb != null)
        format.faiLine(values, plainOffset).foreach(faiSb.append)
      if (bgzf != null) bgzf.write(bytes) else out.write(bytes)
      plainOffset += bytes.length
    }
  }

  override def finish(): Seq[(String, OutputStream => Unit)] = {
    close()
    val index: Seq[(String, OutputStream => Unit)] =
      if (tbi != null) {
        val (pf, pc, pb, pe) = format.asInstanceOf[IndexableGraftFormat].tabixPreset
        Seq(".tbi" -> (os => tbi.write(os, pf, pc, pb, pe)))
      } else if (bgzf != null) {
        // bgzf+fai mode: sibling .gzi from the writer's own block map
        Seq(".gzi" -> (os => GziIndex.write(os, bgzf.blockIndex)))
      } else Nil
    if (faiSb != null && faiSb.nonEmpty)
      index :+ (".fai" -> ((os: OutputStream) => os.write(faiSb.toString.getBytes(UTF_8))))
    else index
  }

  override def close(): Unit =
    if (bgzf != null) { bgzf.finish(); raw.close() } else out.close()
}
