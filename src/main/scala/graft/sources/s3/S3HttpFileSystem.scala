package graft.sources.s3

import java.io.{FileNotFoundException, IOException, InputStream}
import java.net.{HttpURLConnection, URI, URL}
import java.nio.charset.StandardCharsets
import java.util.concurrent.CompletableFuture

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.impl.{AbstractFSBuilderImpl, OpenFileParameters}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A from-scratch Hadoop FileSystem speaking the public S3 REST API over
  * HTTP (path-style): ranged GET for seeks, HEAD + ListObjectsV2 for
  * metadata, PUT / multipart upload for writes, server-side COPY + DELETE
  * for rename. Register with
  * `fs.<scheme>.impl=graft.sources.s3.S3HttpFileSystem` and point
  * `fs.<scheme>.endpoint` at any S3-compatible endpoint (MinIO, localstack,
  * graft.tools.MiniS3). This is the live-wire analog of the reference's
  * localstack coverage (exon-core/tests/sqllogictests/slt/
  * fasta-scan-s3-tests.slt): unlike a local-FS fake it exercises real HTTP
  * sockets, Range semantics and the no-rename commit shape. Auth: anonymous
  * by default; setting `fs.<scheme>.access.key` / `fs.<scheme>.secret.key`
  * (and optionally `fs.<scheme>.region`, default us-east-1) signs every
  * request with AWS SigV4 per the public signing documentation — the same
  * static-credential surface hadoop-aws exposes.
  *
  * Directories are S3-style virtual: zero-byte `key/` markers from
  * mkdirs(), prefix roll-up from ListObjectsV2. Writes buffer one part in
  * memory and switch to multipart when the object exceeds
  * `fs.<scheme>.multipart.size` (default 8 MB) — bounded memory at any
  * object size, the property a 100 TB sink needs.
  */
class S3HttpFileSystem extends FileSystem {
  private var fsUri: URI = _
  private var scheme: String = "s3"
  private var endpoint: String = _
  private var bucket: String = _
  private var cwd: Path = _
  private var partSize: Int = 8 * 1024 * 1024
  private var skipThreshold: Long = 128 * 1024
  private var accessKey: String = _
  private var secretKey: String = _
  private var region: String = "us-east-1"

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    require(name.getAuthority != null, s"S3 path needs a bucket: $name")
    scheme = name.getScheme
    bucket = name.getAuthority
    fsUri = URI.create(s"$scheme://$bucket")
    endpoint = conf.getTrimmed(s"fs.$scheme.endpoint",
      conf.getTrimmed("graft.s3.endpoint", ""))
    require(endpoint.nonEmpty,
      s"fs.$scheme.endpoint (or graft.s3.endpoint) must point at an S3 endpoint")
    endpoint = endpoint.stripSuffix("/")
    partSize = conf.getInt(s"fs.$scheme.multipart.size", partSize)
    skipThreshold = conf.getLong(s"fs.$scheme.skip.reposition.threshold", skipThreshold)
    accessKey = conf.getTrimmed(s"fs.$scheme.access.key")
    secretKey = conf.getTrimmed(s"fs.$scheme.secret.key")
    region = conf.getTrimmed(s"fs.$scheme.region", region)
    require((accessKey == null) == (secretKey == null),
      s"fs.$scheme.access.key and fs.$scheme.secret.key must be set together")
    cwd = new Path(fsUri.toString + "/")
  }

  override def getUri: URI = fsUri
  override def getScheme: String = scheme
  override def getWorkingDirectory: Path = cwd
  override def setWorkingDirectory(dir: Path): Unit = cwd = dir

  private def keyOf(p: Path): String = {
    val abs = if (p.isAbsolute) p else new Path(cwd, p)
    abs.toUri.getPath.stripPrefix("/")
  }

  private def urlFor(key: String, query: String = ""): URL = {
    // AWS canonical encoding on the wire (never URLEncoder's '+'-for-space
    // or encoded '~'): the signed path must byte-match what S3 sees.
    val enc = SigV4.uriEncode(key, encodeSlash = false)
    new URL(s"$endpoint/$bucket/$enc" + (if (query.isEmpty) "" else s"?$query"))
  }

  private def request(method: String, key: String, query: String = "",
      headers: Map[String, String] = Map.empty,
      body: Array[Byte] = null): HttpURLConnection = {
    val url = urlFor(key, query)
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    if (accessKey != null) {
      // SigV4: sign host, x-amz-date, x-amz-content-sha256 and every
      // x-amz-* request header (the spec requires all x-amz-* be signed;
      // Range may legitimately stay unsigned).
      val amzDate = SigV4.amzDateNow()
      val payloadHash =
        if (body == null || body.isEmpty) SigV4.EmptyPayloadHash
        else SigV4.sha256Hex(body)
      val hostHdr = url.getHost +
        (if (url.getPort > 0 && url.getPort != url.getDefaultPort) s":${url.getPort}" else "")
      val signedHeaders = collection.immutable.SortedMap(
        "host" -> hostHdr,
        "x-amz-content-sha256" -> payloadHash,
        "x-amz-date" -> amzDate) ++
        headers.collect { case (k, v) if k.toLowerCase.startsWith("x-amz-") =>
          k.toLowerCase -> v
        }
      conn.setRequestProperty("x-amz-date", amzDate)
      conn.setRequestProperty("x-amz-content-sha256", payloadHash)
      conn.setRequestProperty("Authorization", SigV4.authorization(
        method, if (url.getPath.isEmpty) "/" else url.getPath, url.getQuery,
        signedHeaders, payloadHash, amzDate, region, accessKey, secretKey))
    }
    if (body != null) {
      conn.setDoOutput(true)
      conn.setFixedLengthStreamingMode(body.length)
      val os = conn.getOutputStream
      os.write(body); os.close()
    }
    conn
  }

  private def drain(conn: HttpURLConnection): Array[Byte] = {
    val is = if (conn.getResponseCode < 400) conn.getInputStream else conn.getErrorStream
    if (is == null) Array.empty
    else try is.readAllBytes() finally is.close()
  }

  /** Object length via HEAD; falls back to a 1-byte ranged GET's
    * Content-Range total when the server omits Content-Length on HEAD.
    * Returns -1 if the key does not exist.
    */
  private def objectLength(key: String): Long = {
    val head = request("HEAD", key)
    val code = head.getResponseCode
    val len = head.getHeaderField("Content-Length")
    head.disconnect()
    if (code == 404) -1L
    else if (code != 200) throw new IOException(s"HEAD $key -> $code")
    else if (len != null) len.toLong
    else {
      val g = request("GET", key, headers = Map("Range" -> "bytes=0-0"))
      try {
        val cr = g.getHeaderField("Content-Range") // bytes 0-0/N
        drain(g)
        if (cr == null) throw new IOException(s"no Content-Range for $key")
        cr.substring(cr.indexOf('/') + 1).toLong
      } finally g.disconnect()
    }
  }

  // ---- ListObjectsV2 ----------------------------------------------------

  private case class Listing(keys: Seq[(String, Long)], prefixes: Seq[String])

  private def listOnce(prefix: String, delimiter: Option[String],
      token: Option[String]): (Listing, Option[String]) = {
    val q = new StringBuilder("list-type=2")
    q.append("&prefix=").append(SigV4.uriEncode(prefix))
    delimiter.foreach(d => q.append("&delimiter=").append(SigV4.uriEncode(d)))
    token.foreach(t => q.append("&continuation-token=").append(SigV4.uriEncode(t)))
    val conn = request("GET", "", q.toString)
    val code = conn.getResponseCode
    val body = new String(drain(conn), StandardCharsets.UTF_8)
    conn.disconnect()
    if (code != 200) throw new IOException(s"LIST $prefix -> $code")
    def all(tag: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var i = 0
      val open = s"<$tag>"; val close = s"</$tag>"
      while ({ i = body.indexOf(open, i); i >= 0 }) {
        val end = body.indexOf(close, i)
        out += body.substring(i + open.length, end)
        i = end + close.length
      }
      out.result()
    }
    def unesc(s: String): String =
      s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
    val contents = {
      // Key/Size pairs appear inside <Contents> in document order
      val ks = all("Key").map(unesc)
      val ss = all("Size").map(_.trim.toLong)
      ks.zip(ss)
    }
    // CommonPrefixes holds nested <Prefix>; the top-level echo <Prefix> of the
    // request is the FIRST <Prefix> in the document — drop exactly one echo.
    val prefixes = {
      val ps = all("Prefix").map(unesc)
      if (ps.nonEmpty) ps.tail.filter(_ != prefix) else Seq.empty
    }
    val next = if (body.contains("<IsTruncated>true</IsTruncated>"))
      all("NextContinuationToken").headOption.map(unesc) else None
    (Listing(contents, prefixes), next)
  }

  private def listAll(prefix: String, delimiter: Option[String]): Listing = {
    var token: Option[String] = None
    var keys = Seq.empty[(String, Long)]
    var prefixes = Seq.empty[String]
    var more = true
    while (more) {
      val (l, next) = listOnce(prefix, delimiter, token)
      keys ++= l.keys
      prefixes ++= l.prefixes
      token = next
      more = next.isDefined
    }
    Listing(keys, prefixes.distinct)
  }

  private def pathFor(key: String): Path = new Path(s"$fsUri/$key")

  private def fileStatus(key: String, len: Long): FileStatus =
    new FileStatus(len, false, 1, 32L * 1024 * 1024, 0L, pathFor(key))

  private def dirStatus(key: String): FileStatus =
    new FileStatus(0, true, 1, 0, 0L, pathFor(key.stripSuffix("/")))

  override def getFileStatus(f: Path): FileStatus = {
    val key = keyOf(f)
    if (key.isEmpty) return dirStatus("")
    val len = objectLength(key)
    if (len >= 0) return fileStatus(key, len)
    if (objectLength(key + "/") >= 0) return dirStatus(key) // mkdirs marker
    val l = listAll(key + "/", delimiter = Some("/"))
    if (l.keys.nonEmpty || l.prefixes.nonEmpty) dirStatus(key)
    else throw new FileNotFoundException(s"$scheme://$bucket/$key")
  }

  /** LIST first: a directory (the common case) costs one request. Only a
    * prefix with nothing under it, not even a marker, is probed as a file.
    */
  override def listStatus(f: Path): Array[FileStatus] = {
    val key = keyOf(f)
    val prefix = if (key.isEmpty) "" else key + "/"
    val l = listAll(prefix, delimiter = Some("/"))
    if (key.nonEmpty && l.keys.isEmpty && l.prefixes.isEmpty) {
      val len = objectLength(key)
      if (len < 0) throw new FileNotFoundException(s"$scheme://$bucket/$key")
      return Array(fileStatus(key, len))
    }
    val files = l.keys.collect {
      case (k, len) if k != prefix => fileStatus(k, len) // skip the dir marker itself
    }
    (files ++ l.prefixes.map(p => dirStatus(p))).toArray
  }

  override def hasPathCapability(p: Path, capability: String): Boolean =
    capability == S3HttpFileSystem.FlatListing || super.hasPathCapability(p, capability)

  /** `recursive = true` is one flat ListObjectsV2 of the prefix, without a
    * delimiter: one request per 1000 keys at any depth, where a walk pays
    * one LIST per directory. What it yields is described at
    * [[S3HttpFileSystem.FlatListing]].
    */
  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] = {
    if (!recursive) return super.listFiles(f, recursive)
    val key = keyOf(f)
    val prefix = if (key.isEmpty) "" else key + "/"
    val listed = listAll(prefix, delimiter = None).keys
    val entries =
      if (listed.nonEmpty || key.isEmpty) listed.collect {
        case (k, _) if k.endsWith("/") && k != prefix => dirStatus(k) // a marker
        case (k, len) if !k.endsWith("/") => fileStatus(k, len)
      } else {
        val len = objectLength(key)
        if (len < 0) throw new FileNotFoundException(s"$scheme://$bucket/$key")
        Seq(fileStatus(key, len))
      }
    val it = entries.iterator.map(st => new LocatedFileStatus(st, Array.empty[BlockLocation]))
    new RemoteIterator[LocatedFileStatus] {
      override def hasNext: Boolean = it.hasNext
      override def next(): LocatedFileStatus = it.next()
    }
  }

  // ---- read -------------------------------------------------------------

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val key = keyOf(f)
    val len = objectLength(key)
    if (len < 0) throw new FileNotFoundException(s"$scheme://$bucket/$key")
    new FSDataInputStream(new S3SeekableInput(key, len))
  }

  /** `openFile(path).withFileStatus(st)` takes the length from `st` and
    * skips the HEAD that [[open]] sends; a missing object then fails on
    * the first read instead of at open.
    */
  override protected def openFileWithOptions(path: Path,
      parameters: OpenFileParameters): CompletableFuture[FSDataInputStream] = {
    val st = parameters.getStatus
    if (st == null || !st.isFile) super.openFileWithOptions(path, parameters)
    else {
      AbstractFSBuilderImpl.rejectUnknownMandatoryKeys(parameters.getMandatoryKeys,
        Options.OpenFileOptions.FS_OPTION_OPENFILE_STANDARD_OPTIONS, s"for $path")
      CompletableFuture.completedFuture(
        new FSDataInputStream(new S3SeekableInput(keyOf(path), st.getLen)))
    }
  }

  /** Lazy ranged-GET stream: each seek abandons the HTTP stream and the next
    * read opens `Range: bytes=pos-`. Sequential reads ride one response.
    */
  private final class S3SeekableInput(key: String, len: Long)
      extends FSInputStream {
    private var pos = 0L
    private var in: InputStream = _
    private var conn: HttpURLConnection = _

    private def ensureOpen(): Boolean = {
      if (pos >= len) return false
      if (in == null) {
        conn = request("GET", key, headers = Map("Range" -> s"bytes=$pos-"))
        val code = conn.getResponseCode
        if (code != 206 && code != 200)
          throw new IOException(s"GET $key range $pos- -> $code")
        in = conn.getInputStream
        if (code == 200 && pos > 0) { // server ignored Range: skip manually
          var toSkip = pos
          while (toSkip > 0) {
            val s = in.skip(toSkip)
            if (s <= 0) throw new IOException(s"cannot skip to $pos in $key")
            toSkip -= s
          }
        }
      }
      true
    }

    private def dropStream(): Unit = {
      if (in != null) { try in.close() catch { case _: IOException => () }; in = null }
      if (conn != null) { conn.disconnect(); conn = null }
    }

    override def seek(newPos: Long): Unit = {
      if (newPos < 0 || newPos > len) throw new EOFException(s"seek $newPos len $len")
      if (newPos != pos) { dropStream(); pos = newPos }
    }
    override def getPos: Long = pos
    override def seekToNewSource(targetPos: Long): Boolean = false

    override def read(): Int = {
      if (!ensureOpen()) return -1
      var b = in.read()
      if (b < 0 && pos < len) b = reopenAndRead(() => in.read())
      if (b >= 0) pos += 1 else dropStream()
      b
    }

    override def read(b: Array[Byte], off: Int, n: Int): Int = {
      if (!ensureOpen()) return -1
      var got = in.read(b, off, n)
      if (got < 0 && pos < len) got = reopenAndRead(() => in.read(b, off, n))
      if (got > 0) pos += got else if (got < 0) dropStream()
      got
    }

    /** A server/proxy that closes the response mid-object must not look
      * like EOF — that silently truncates scans. Reopen `Range: bytes=pos-`
      * once; a second premature close is a hard error, never -1.
      */
    private def reopenAndRead(readOnce: () => Int): Int = {
      dropStream()
      if (!ensureOpen())
        throw new IOException(s"unexpected EOF at $pos/$len reading $key")
      val got = readOnce()
      if (got < 0)
        throw new IOException(s"unexpected EOF at $pos/$len reading $key (after reopen)")
      got
    }

    /** Readers that stream-and-skip (CRAM container pruning) must not pay
      * for skipped bytes on the wire: a skip past the threshold abandons the
      * HTTP stream and the next read opens a new ranged GET at the target.
      * Short skips ride the open response — a reposition there would cost
      * more in request latency than the discarded bytes.
      */
    override def skip(n: Long): Long = {
      if (n <= 0) return 0
      val m = math.min(n, len - pos)
      if (m == 0) return 0
      if (in == null || m >= skipThreshold) { dropStream(); pos += m; m }
      else {
        var left = m
        while (left > 0 && in != null) {
          val s = in.skip(left)
          if (s > 0) { pos += s; left -= s }
          else {
            val b = in.read()
            if (b < 0) dropStream() else { pos += 1; left -= 1 }
          }
        }
        if (left > 0) pos += left // stream ended early: plain reposition
        m
      }
    }

    /** Positioned read: ONE bounded ranged GET per call, independent of
      * the sequential stream state. FSInputStream's default does
      * seek(position) -> read -> seek(back), where each seek drops this
      * stream's HTTP response — so a readFully over a short-reading
      * network stack would cost one open-ended `bytes=pos-` GET PER
      * partial read. The windowed CRAM sweep's file-size/window I/O bound
      * (S3CramSweepSpec) rides this method: one refill, one GET.
      *
      * A server that IGNORES Range (200 + full body) must not cost a
      * download-and-skip of `position` bytes per call — under a forward
      * window sweep that is O(fileSize^2/window) bytes on the wire. The
      * first 200-with-nonzero-position flips this stream to a cached
      * forward fallback: one open-ended GET whose body is skipped/read
      * monotonically, so a forward sweep costs O(fileSize) total and only
      * a backward jump reopens. Correct everywhere, never quadratic.
      */
    override def read(position: Long, buffer: Array[Byte], offset: Int,
                      length: Int): Int = {
      if (position < 0) throw new EOFException(s"read at $position in $key")
      if (position >= len) return -1
      val want = math.min(length.toLong, len - position).toInt
      if (want <= 0) return 0
      if (rangeIgnored) return fallbackPositionedRead(position, buffer, offset, want)
      val c = request("GET", key,
        headers = Map("Range" -> s"bytes=$position-${position + want - 1}"))
      var handedOff = false
      try {
        val code = c.getResponseCode
        if (code != 206 && code != 200)
          throw new IOException(s"GET $key range $position- -> $code")
        if (code == 200 && position > 0) { // server ignored Range
          rangeIgnored = true
          // this response's body starts at byte 0 — it IS the fallback
          // stream; adopt it instead of paying a second full GET
          adoptFallback(c)
          handedOff = true
          return fallbackPositionedRead(position, buffer, offset, want)
        }
        val s = c.getInputStream
        var got = 0
        var n = 0
        while (got < want &&
            { n = s.read(buffer, offset + got, want - got); n > 0 })
          got += n
        if (got <= 0)
          throw new IOException(s"unexpected EOF at $position/$len reading $key")
        got
      } finally if (!handedOff) c.disconnect()
    }

    // ---- range-ignoring-server fallback (see read(position,...) above) ----
    // volatile: read unsynchronized by concurrent positioned reads; without
    // it two threads can each miss the flip and issue a full-object GET
    @volatile private var rangeIgnored = false
    private var fpIn: InputStream = _
    private var fpConn: HttpURLConnection = _
    private var fpPos = 0L

    private def adoptFallback(c: HttpURLConnection): Unit = synchronized {
      dropFallback()
      fpConn = c; fpIn = c.getInputStream; fpPos = 0L
    }

    private def dropFallback(): Unit = synchronized {
      if (fpIn != null) { try fpIn.close() catch { case _: IOException => () }; fpIn = null }
      if (fpConn != null) { fpConn.disconnect(); fpConn = null }
    }

    /** Serve a positioned read off one cached full-object response:
      * forward positions skip ahead on the open body; a backward position
      * reopens once. Synchronized — Hadoop allows concurrent positioned
      * reads on one stream, and the fallback shares one body.
      */
    private def fallbackPositionedRead(position: Long, buffer: Array[Byte],
                                       offset: Int, want: Int): Int = synchronized {
      if (fpIn == null || position < fpPos) {
        dropFallback()
        val c = request("GET", key)
        val code = c.getResponseCode
        if (code != 200 && code != 206)
          throw new IOException(s"GET $key -> $code")
        fpConn = c; fpIn = c.getInputStream; fpPos = 0L
      }
      var toSkip = position - fpPos
      while (toSkip > 0) {
        val sk = fpIn.skip(toSkip)
        if (sk <= 0) throw new IOException(s"cannot skip to $position in $key")
        fpPos += sk; toSkip -= sk
      }
      var got = 0
      var n = 0
      while (got < want &&
          { n = fpIn.read(buffer, offset + got, want - got); n > 0 })
        got += n
      if (got <= 0) {
        dropFallback()
        throw new IOException(s"unexpected EOF at $position/$len reading $key")
      }
      fpPos += got
      got
    }

    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
                           length: Int): Unit = {
      var done = 0
      while (done < length) {
        val got = read(position + done, buffer, offset + done, length - done)
        if (got < 0)
          throw new EOFException(s"EOF at ${position + done}/$len reading $key")
        done += got
      }
    }

    override def available(): Int = math.min(len - pos, Int.MaxValue.toLong).toInt
    override def close(): Unit = { dropStream(); dropFallback() }
  }

  private class EOFException(msg: String) extends java.io.EOFException(msg)

  // ---- write ------------------------------------------------------------

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val key = keyOf(f)
    if (!overwrite && objectLength(key) >= 0)
      throw new FileAlreadyExistsException(s"$scheme://$bucket/$key")
    new FSDataOutputStream(new S3MultipartOutput(key), statistics)
  }

  /** Buffers up to one part; a single PUT for small objects, switching to
    * multipart (initiate / per-part PUT / complete) past the part size.
    */
  private final class S3MultipartOutput(key: String) extends java.io.OutputStream {
    private var buf = new java.io.ByteArrayOutputStream(64 * 1024)
    private var uploadId: String = _
    private var partNum = 0
    private val partETags = scala.collection.mutable.ArrayBuffer.empty[String]
    private var closed = false

    override def write(b: Int): Unit = { buf.write(b); maybeFlushPart() }
    override def write(b: Array[Byte], off: Int, n: Int): Unit = {
      // Slice at part boundaries so every uploaded part is exactly partSize
      // (but the last) — bounded memory however large the incoming writes.
      var o = off
      var left = n
      while (left > 0) {
        val take = math.min(left, partSize - buf.size())
        buf.write(b, o, take)
        o += take
        left -= take
        maybeFlushPart()
      }
    }

    private def maybeFlushPart(): Unit = if (buf.size() >= partSize) flushPart()

    private def flushPart(): Unit = {
      if (uploadId == null) {
        val conn = request("POST", key, "uploads", body = Array.empty)
        val body = new String(drain(conn), StandardCharsets.UTF_8)
        if (conn.getResponseCode != 200)
          throw new IOException(s"initiate multipart $key -> ${conn.getResponseCode}")
        conn.disconnect()
        val i = body.indexOf("<UploadId>")
        uploadId = body.substring(i + 10, body.indexOf("</UploadId>"))
      }
      partNum += 1
      val conn = request("PUT", key, s"partNumber=$partNum&uploadId=$uploadId",
        body = buf.toByteArray)
      if (conn.getResponseCode != 200)
        throw new IOException(s"part $partNum of $key -> ${conn.getResponseCode}")
      // the complete call must echo the server's ETags (real S3 rejects
      // fabricated ones with InvalidPart)
      partETags += Option(conn.getHeaderField("ETag"))
        .getOrElse(throw new IOException(s"part $partNum of $key returned no ETag"))
      drain(conn); conn.disconnect()
      buf.reset()
    }

    override def close(): Unit = {
      if (closed) return
      closed = true
      if (uploadId == null) {
        val conn = request("PUT", key, body = buf.toByteArray)
        if (conn.getResponseCode != 200)
          throw new IOException(s"PUT $key -> ${conn.getResponseCode}")
        drain(conn); conn.disconnect()
      } else {
        if (buf.size() > 0) flushPart()
        val xml = partETags.zipWithIndex.map { case (etag, i) =>
          s"<Part><PartNumber>${i + 1}</PartNumber><ETag>$etag</ETag></Part>"
        }.mkString("<CompleteMultipartUpload>", "", "</CompleteMultipartUpload>")
        val conn = request("POST", key, s"uploadId=$uploadId",
          body = xml.getBytes(StandardCharsets.UTF_8))
        if (conn.getResponseCode != 200)
          throw new IOException(s"complete multipart $key -> ${conn.getResponseCode}")
        drain(conn); conn.disconnect()
      }
      buf = null
    }
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("S3 objects are immutable; no append")

  // ---- namespace ops ----------------------------------------------------

  private def copyObject(srcKey: String, dstKey: String): Unit = {
    val conn = request("PUT", dstKey,
      headers = Map("x-amz-copy-source" -> s"/$bucket/$srcKey"), body = Array.empty)
    val code = conn.getResponseCode
    drain(conn); conn.disconnect()
    if (code != 200) throw new IOException(s"COPY $srcKey -> $dstKey: $code")
  }

  private def deleteObject(key: String): Unit = {
    val conn = request("DELETE", key)
    conn.getResponseCode
    drain(conn); conn.disconnect()
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val srcKey = keyOf(src)
    var dstKey = keyOf(dst)
    val srcLen = objectLength(srcKey)
    if (srcLen >= 0) { // file
      val dstStatus = try Some(getFileStatus(dst)) catch {
        case _: FileNotFoundException => None
      }
      dstStatus match {
        case Some(s) if s.isDirectory => dstKey = s"$dstKey/${src.getName}"
        case Some(_) => return false // Hadoop contract: no clobbering files
        case None => ()
      }
      copyObject(srcKey, dstKey)
      deleteObject(srcKey)
      true
    } else { // directory: rewrite every key under the prefix
      val l = listAll(srcKey + "/", delimiter = None)
      if (l.keys.isEmpty && objectLength(srcKey + "/") < 0) return false
      // Hadoop contract: renaming INTO an existing directory moves the
      // source UNDER it (same as the file branch above)
      val dstIsDir = (try Some(getFileStatus(dst)) catch {
        case _: FileNotFoundException => None
      }).exists(_.isDirectory)
      if (dstIsDir) dstKey = s"$dstKey/${src.getName}"
      (l.keys.map(_._1) ++ Some(srcKey + "/").filter(k => objectLength(k) >= 0))
        .distinct.foreach { k =>
          copyObject(k, dstKey + k.stripPrefix(srcKey))
          deleteObject(k)
        }
      true
    }
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val key = keyOf(f)
    if (objectLength(key) >= 0) { deleteObject(key); return true }
    val l = listAll(key + "/", delimiter = None)
    val marker = objectLength(key + "/") >= 0
    if (l.keys.isEmpty && !marker) return false
    if (!recursive && l.keys.exists(_._1 != key + "/"))
      throw new IOException(s"directory not empty: $f")
    l.keys.map(_._1).foreach(deleteObject)
    if (marker) deleteObject(key + "/")
    true
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    val key = keyOf(f)
    if (key.nonEmpty && objectLength(key) < 0) {
      val conn = request("PUT", key + "/", body = Array.empty)
      if (conn.getResponseCode != 200)
        throw new IOException(s"mkdir marker $key/ -> ${conn.getResponseCode}")
      drain(conn); conn.disconnect()
    }
    true
  }
}

object S3HttpFileSystem {
  /** Path capability: `listFiles(dir, recursive = true)` answers from one
    * flat listing of the object prefix. Beyond Hadoop's files-only
    * contract it also yields each directory-marker object (a key ending in
    * `/`, as mkdirs() writes) as a directory status, so that a caller still
    * sees directories that hold no files. A `dir` with nothing under it is
    * probed as a file, as `listFiles` on a file path returns that file.
    */
  val FlatListing = "graft.fs.flat-recursive-listing"
}
