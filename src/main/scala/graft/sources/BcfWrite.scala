package graft.sources

import java.io.{BufferedOutputStream, OutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType

/** BCF 2.2 sink: binary VCF records inside BGZF with a sibling `.csi`
  * index, encoded from the public spec (SAMv1/VCFv4 §6) — the write-side
  * complement of `formats/BcfFormat`. The reference has no BCF sink at
  * all (its writers stop at text formats); this is beyond-reference
  * surface completing the indexed-sink family, shaped like
  * `bcftools view -O b` + `bcftools index`.
  *
  * The header dictionary (contigs + FILTER/INFO/FORMAT ids) must come
  * from `option("headerFrom", <vcf|vcf.gz|bcf>)` — like the BAM sink's
  * `@SQ` requirement, every task needs the identical numbering, and the
  * implicit-IDX rules are applied by the SAME parser the reader uses
  * (`BcfFormat.headerMaps`), so writer and reader agree by construction.
  * A chrom / filter / info / format key absent from that header fails
  * loudly instead of writing a silently-undecodable id.
  *
  * Value typing round-trips through the reader's rendering: a value is
  * written as int/float only when re-rendering it reproduces the original
  * text exactly (so "1.0" stays a string, "0.5" becomes a float); GT is
  * encoded per spec ((allele+1)<<1 | phased) — the reader deliberately
  * renders GT as its raw integers, the documented lossy corner.
  *
  * Rows must arrive sorted by (contig in header order, pos) within each
  * partition — the `.csi` would otherwise be silently wrong, so the
  * writer refuses (same policy as the bgzf+tbi and BAM sinks).
  */
final class BcfSink(headerText: String) extends SinkJob {
  require(graft.sources.formats.BcfFormat.headerMaps(headerText)._1.nonEmpty,
    "bcf write: headerFrom declares no ##contig lines")
  def dataSchema: StructType = graft.sources.formats.VcfFormat.dataSchema
  def extension: String = "bcf"
  def siblings: Seq[String] = Seq(".csi")
  def open(out: OutputStream, fileName: String): SinkEncoder =
    new BcfEncoder(headerText, out)
}

object BcfSink {
  def apply(options: Map[String, String], conf: Configuration): BcfSink = {
    val src = options.getOrElse("headerfrom", throw new IllegalArgumentException(
      "bcf write requires the header dictionary: pass " +
        "option(\"headerFrom\", <existing .vcf/.vcf.gz/.bcf>) — contig " +
        "and INFO/FORMAT/FILTER ids must be declared, the same " +
        "requirement bcftools imposes on VCF->BCF conversion"))
    new BcfSink(BcfHeader.readText(new Path(src), conf))
  }
}

private[sources] object BcfHeader {
  /** Header text from a VCF (plain or compressed) or BCF file. */
  def readText(p: Path, conf: org.apache.hadoop.conf.Configuration): String = {
    val fs = p.getFileSystem(conf)
    val name = p.getName.toLowerCase
    if (name.endsWith(".bcf")) {
      val in = new MultiMemberGzipInputStream(fs.open(p))
      try graft.sources.formats.BcfFormat.readHeaderText(new LeIn(in)) finally in.close()
    } else {
      val in = Codecs.wrap(p.getName, fs.open(p))
      try {
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
        val sb = new StringBuilder
        var line = r.readLine()
        var sawAny = false
        while (line != null && line.startsWith("#")) {
          sawAny = true
          sb.append(line).append('\n')
          line = r.readLine()
        }
        require(sawAny, s"bcf write: $p has no header lines")
        sb.toString
      } finally in.close()
    }
  }
}

private final class BcfEncoder(headerText: String, raw: OutputStream)
  extends SinkEncoder {

  // id->name maps from the same parser the reader uses, inverted
  private val (ridOf, dictOf) = {
    val (contigs, dict) = graft.sources.formats.BcfFormat.headerMaps(headerText)
    (contigs.map(_.swap), dict.map(_.swap))
  }

  private val bgzf = new BgzfWriter(new BufferedOutputStream(raw, 1 << 16))
  private val csi = new CsiWriter(ridOf.size)
  private var lastRid = -1
  private var lastPos = -1L

  locally {
    val body = new java.io.ByteArrayOutputStream(1 << 14)
    body.write(Array[Byte]('B', 'C', 'F', 2, 2))
    val text = (headerText + "\u0000").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    new LeOut(body).i32(text.length)
    body.write(text)
    bgzf.write(body.toByteArray)
  }

  // ---- typed-value encoding -------------------------------------------

  // one block buffer per part, reset per block; `head` holds the two
  // block lengths
  private val buf = new java.io.ByteArrayOutputStream(1 << 12)
  private val b = new LeOut(buf)
  private val head = new LeOut(new java.io.ByteArrayOutputStream(8))

  private def descriptor(t: Int, n: Int): Unit = {
    if (n < 15) b.u8((n << 4) | t)
    else {
      b.u8(0xf0 | t)
      // scalar count, smallest int type
      if (n <= 127) { b.u8(0x11); b.u8(n) }
      else if (n <= 32767) { b.u8(0x12); b.i16(n) }
      else { b.u8(0x13); b.i32(n) }
    }
  }

  /** One int value in type t (1/2/3); sentinel = MISSING or END. */
  private def intVal(t: Int, v: Int): Unit = t match {
    case 1 => b.u8(v)
    case 2 => b.i16(v)
    case 3 => b.i32(v)
  }
  private def intTypeFor(vals: Seq[Int]): Int = {
    // reserved sentinels make the extremes of each width unusable
    if (vals.forall(v => v >= -120 && v <= 127)) 1
    else if (vals.forall(v => v >= -32000 && v <= 32767)) 2
    else 3
  }
  private def missingOf(t: Int): Int = t match {
    case 1 => 0x80; case 2 => Short.MinValue.toInt; case 3 => Int.MinValue
  }
  private def endOf(t: Int): Int = t match {
    case 1 => 0x81; case 2 => -32767; case 3 => Int.MinValue + 1
  }

  private def typedString(s: String): Unit = {
    if (s == null || s.isEmpty || s == ".") { descriptor(7, 0); return }
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    descriptor(7, bytes.length)
    buf.write(bytes, 0, bytes.length)
  }

  private def typedIntVector(vals: Seq[Int]): Unit = {
    val t = intTypeFor(vals)
    descriptor(t, vals.length)
    vals.foreach(v => intVal(t, v))
  }

  private val IntRe = "[+-]?\\d+".r.pattern
  private def parsedLongRoundTrips(s: String): Option[Int] =
    if (!IntRe.matcher(s).matches()) None
    else try {
      val v = java.lang.Long.parseLong(s)
      // int32 max usable range (sentinels excluded) + textual round trip
      if (v > Int.MinValue + 8 && v <= Int.MaxValue && v.toString == s) Some(v.toInt)
      else None
    } catch { case _: NumberFormatException => None }

  private def fmtFloat(f: Float): String =
    if (f == math.floor(f) && math.abs(f) < 1e7f) f.toLong.toString else f.toString
  private def parsedFloatRoundTrips(s: String): Option[Float] =
    try {
      val f = java.lang.Float.parseFloat(s)
      if (fmtFloat(f) == s) Some(f) else None
    } catch { case _: NumberFormatException => None }

  /** Encode one comma-separated value string as the narrowest typed vector
    * whose read-back rendering reproduces it exactly; else a type-7 string.
    */
  private def typedValue(s: String): Unit = {
    val parts = s.split(",", -1)
    val ints: Array[Option[Integer]] =
      parts.map(p => if (p == ".") Some(null: Integer) else parsedLongRoundTrips(p).map(Int.box))
    if (ints.forall(_.isDefined)) {
      val vs = ints.map(_.get)
      val t = intTypeFor(vs.collect { case v: Integer => v.intValue }.toSeq)
      descriptor(t, vs.length)
      vs.foreach(v => intVal(t, if (v == null) missingOf(t) else v.intValue))
      return
    }
    val floats: Array[Option[java.lang.Float]] =
      parts.map(p => if (p == ".") Some(null: java.lang.Float)
                     else parsedFloatRoundTrips(p).map(Float.box))
    if (floats.forall(_.isDefined)) {
      descriptor(5, floats.length)
      floats.foreach { v =>
        b.i32(if (v.get == null) 0x7f800001
               else java.lang.Float.floatToRawIntBits(v.get.floatValue))
      }
      return
    }
    typedString(s)
  }

  private def dictId(name: String, what: String): Int =
    dictOf.getOrElse(name, throw new IllegalArgumentException(
      s"bcf write: $what '$name' is not declared in the headerFrom header " +
        s"(add a ##$what line)")) // loud, never a silently-undecodable id

  private def typedDictId(id: Int): Unit =
    typedIntVector(Seq(id))

  private val GtSplit = "[/|]".r

  override def write(v: Array[Any]): Unit = {
    val chrom = v(0).toString
    val rid = ridOf.getOrElse(chrom, throw new IllegalArgumentException(
      s"bcf write: contig '$chrom' is not declared in the headerFrom header"))
    val pos0 = v(1).asInstanceOf[Long] - 1
    if (rid < lastRid || (rid == lastRid && pos0 < lastPos))
      throw new IllegalArgumentException(
        "bcf write requires rows sorted by (contig in header order, pos) " +
          s"within each partition; got rid=$rid pos=${pos0 + 1} after " +
          s"rid=$lastRid pos=${lastPos + 1}. Use df.repartitionByRange(...)" +
          ".sortWithinPartitions(col(\"chrom\"), col(\"pos\"))")
    lastRid = rid; lastPos = pos0

    def strArr(x: Any): Seq[String] = x match {
      case null => Nil
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        (0 until a.numElements()).map(j => a.getUTF8String(j).toString)
    }
    val ids = strArr(v(2))
    val ref = v(3).toString
    val alts = strArr(v(4))
    val qual = v(5)
    val filters = strArr(v(6))
    val info = if (v(7) == null) "" else v(7).toString
    val formats = if (v(8) == null) null else v(8).toString

    // ---- shared block
    buf.reset()
    val infoPairs: Seq[(Int, String)] =
      if (info.isEmpty || info == ".") Nil
      else info.split(";").toSeq.filter(_.nonEmpty).map { kv =>
        val eq = kv.indexOf('=')
        if (eq < 0) (dictId(kv, "INFO"), null)
        else (dictId(kv.substring(0, eq), "INFO"), kv.substring(eq + 1))
      }
    val fmtCols: Seq[String] =
      if (formats == null || formats.isEmpty) Nil else formats.split("\t", -1).toSeq
    val fmtKeys: Seq[String] =
      if (fmtCols.isEmpty) Nil else fmtCols.head.split(":", -1).toSeq.filter(_.nonEmpty)
    val samples: Seq[Seq[String]] = fmtCols.drop(1).map { col =>
      val parts = col.split(":", -1).toSeq
      fmtKeys.indices.map(k => if (k < parts.length) parts(k) else ".")
    }
    val nSample = samples.length
    require(infoPairs.length <= 0xffff && alts.length + 1 <= 0xffff,
      "bcf write: too many INFO keys / alleles for one record")
    require(fmtKeys.length <= 255 && nSample <= 0xffffff,
      "bcf write: too many FORMAT keys / samples for one record")

    b.i32(rid)
    b.i32(pos0.toInt)
    b.i32(math.max(1, ref.length))
    b.i32(qual match {
      case null => 0x7f800001
      case f: java.lang.Float => java.lang.Float.floatToRawIntBits(f.floatValue)
    })
    b.i32(((alts.length + 1) << 16) | infoPairs.length)
    b.i32((fmtKeys.length << 24) | nSample)
    typedString(if (ids.isEmpty) null else ids.mkString(";"))
    typedString(ref)
    alts.foreach(a => typedString(a))
    typedIntVector(filters.map(f => dictId(f, "FILTER")))
    infoPairs.foreach { case (id, value) =>
      typedDictId(id)
      if (value == null) descriptor(0, 0) // flag
      else typedValue(value)
    }
    val sharedBytes = buf.toByteArray

    // ---- indiv (FORMAT) block
    buf.reset()
    fmtKeys.zipWithIndex.foreach { case (key, k) =>
      typedDictId(dictId(key, "FORMAT"))
      val perSample: Seq[Seq[String]] =
        samples.map(s => s(k).split(",", -1).toSeq)
      if (key == "GT") {
        // (allele+1)<<1 | phased; '.' allele -> 0; separator j is phased
        // when it is '|'
        val enc: Seq[Seq[Int]] = samples.map { s =>
          val g = s(k)
          if (g == "." || g.isEmpty) Seq(0)
          else {
            val alleles = GtSplit.split(g)
            val seps = g.filter(c => c == '/' || c == '|')
            alleles.toSeq.zipWithIndex.map { case (a, j) =>
              val av = if (a == ".") 0 else a.toInt + 1
              val phased = if (j > 0 && j - 1 < seps.length && seps(j - 1) == '|') 1 else 0
              (av << 1) | phased
            }
          }
        }
        val width = enc.map(_.length).max
        val t = intTypeFor(enc.flatten)
        descriptor(t, width)
        enc.foreach { vs =>
          vs.foreach(x => intVal(t, x))
          (vs.length until width).foreach(_ => intVal(t, endOf(t)))
        }
      } else {
        val width = perSample.map(_.length).max
        val asInts: Seq[Seq[Option[Integer]]] = perSample.map(_.map(p =>
          if (p == ".") Some(null: Integer) else parsedLongRoundTrips(p).map(Int.box)))
        if (asInts.forall(_.forall(_.isDefined))) {
          val t = intTypeFor(asInts.flatten.collect { case Some(v: Integer) if v != null => v.intValue })
          descriptor(t, width)
          asInts.foreach { vs =>
            vs.foreach(x => intVal(t,
              if (x.get == null) missingOf(t) else x.get.intValue))
            (vs.length until width).foreach(_ => intVal(t, endOf(t)))
          }
        } else {
          val asFloats: Seq[Seq[Option[java.lang.Float]]] = perSample.map(_.map(p =>
            if (p == ".") Some(null: java.lang.Float)
            else parsedFloatRoundTrips(p).map(Float.box)))
          if (asFloats.forall(_.forall(_.isDefined))) {
            descriptor(5, width)
            asFloats.foreach { vs =>
              vs.foreach(x => b.i32(
                if (x.get == null) 0x7f800001
                else java.lang.Float.floatToRawIntBits(x.get.floatValue)))
              (vs.length until width).foreach(_ => b.i32(0x7f800002))
            }
          } else {
            // char vector: NUL-padded to the max byte length
            val bytes = samples.map(s =>
              s(k).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val w = math.max(1, bytes.map(_.length).max)
            descriptor(7, w)
            bytes.foreach { bs =>
              buf.write(bs, 0, bs.length)
              (bs.length until w).foreach(_ => b.u8(0))
            }
          }
        }
      }
    }
    val indivBytes = buf.toByteArray

    head.os.reset()
    head.i32(sharedBytes.length)
    head.i32(indivBytes.length)
    val vStart = bgzf.virtualPos
    bgzf.write(head.os.toByteArray)
    bgzf.write(sharedBytes)
    bgzf.write(indivBytes)
    csi.add(rid, pos0, pos0 + math.max(1, ref.length), vStart, bgzf.virtualPos)
  }

  override def finish(): Seq[(String, OutputStream => Unit)] = {
    close()
    Seq(".csi" -> (os => csi.write(os)))
  }

  override def close(): Unit = { bgzf.finish(); raw.close() }
}
