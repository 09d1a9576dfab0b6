package graft.sources

import java.io.{ByteArrayOutputStream, FileNotFoundException, IOException, InputStream, OutputStream}
import java.net.{HttpURLConnection, URI, URL, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A dependency-free Hadoop FileSystem speaking the S3 REST protocol
  * (path-style requests) against any S3-compatible endpoint. Reference
  * analog: the S3/LocalStack conformance leg the reference treats as a
  * first-class deployment (TestLanceS3DefaultConnectorTest.java,
  * LanceQueryRunner.java:82-94). hadoop-aws is not on this classpath,
  * so the wire protocol is implemented directly over the JDK HTTP
  * client — tests register this class as `fs.s3a.impl` and drive the
  * full catalog/commit/scan/DML surface over real `s3a://` URIs
  * against an in-process S3 server.
  *
  * Semantics mirror a real object store, NOT a filesystem:
  *  - no atomic rename: rename = server-side COPY (x-amz-copy-source)
  *    + DELETE, per object;
  *  - directories are virtual: a "directory" exists iff some key
  *    extends its prefix (probed via ListObjectsV2 with max-keys=1);
  *    mkdirs on an empty prefix writes a `key/` directory-marker object
  *    (hadoop-aws convention) so empty namespaces are visible; the
  *    self-marker is invisible to listings and emptiness checks;
  *  - create(overwrite=false) is a TRUE conditional put: the object
  *    body uploads with `If-None-Match: *` and a lost race surfaces as
  *    HTTP 412 at close() — mapped to FileAlreadyExistsException, which
  *    is exactly the contract [[graft.format.GraftFormat.createExclusive]]'s
  *    'conditional' strategy requires. The capability is advertised via
  *    `fs.capability.conditional.create` (same capability hadoop-aws
  *    >= 3.4.1 advertises with fs.s3a.create.conditional.enabled);
  *  - recursive delete pages keys and issues S3 multi-object DELETE
  *    (POST ?delete, up to 1000 keys per request) — one round-trip per
  *    page, not per key, so vacuum over a 100 TB table is O(pages);
  *  - reads are ranged GETs (`Range: bytes=a-b`), so a parquet footer
  *    probe never downloads the fragment.
  *
  * Auth is intentionally out of scope (SigV4 signing adds nothing to
  * the commit-protocol proof); the endpoint is taken from
  * [[S3LiteFileSystem.EndpointKey]].
  */
class S3LiteFileSystem extends FileSystem {

  import S3LiteFileSystem._

  private var fsUri: URI = _
  private var bucket: String = _
  private var endpoint: String = _
  private var workingDir: Path = _
  private var listPageSize: Int = 1000
  private var readAhead: Int = 65536

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(s"${name.getScheme}://${name.getAuthority}")
    bucket = name.getAuthority
    endpoint = conf.getTrimmed(EndpointKey, "")
    if (endpoint.isEmpty)
      throw new IOException(s"$EndpointKey is required for ${name.getScheme}:// access")
    if (endpoint.endsWith("/")) endpoint = endpoint.dropRight(1)
    listPageSize = conf.getInt(ListPageSizeKey, 1000)
    readAhead = conf.getInt(ReadAheadKey, 65536)
    retryLimit = conf.getInt(RetryLimitKey, 9)
    retryBaseMs = conf.getLong(RetryBaseMsKey, 50L)
    workingDir = new Path(fsUri.toString + "/")
    statistics = FileSystem.getStatistics(name.getScheme, getClass)
  }

  // ------------------------------------------------------------ retries

  // default 9 attempts × exponential 50 ms base (cap 3.2 s/sleep,
  // ~13 s total span) ≈ s3a's fs.s3a.retry.limit=7 / AWS SDK standard
  // posture. The old 5-attempt/1.5 s span was outlasted by a sustained
  // throttle window in the faulted storm: a delta-chain resolve issues
  // several reads per readLatest, so the per-REQUEST budget must cover
  // a real multi-second 503 window, not just a blip (round-15 storm:
  // one HEAD crossing a window killed a writer that s3a's own policy
  // would have carried through).
  private var retryLimit: Int = 9
  private var retryBaseMs: Long = 50L

  /** True for failures a retry can heal: throttles (503 SlowDown), other
    * 5xx, and torn connections (premature EOF / socket resets). Definite
    * protocol answers — 404 (FileNotFound), 412 (FileAlreadyExists) —
    * are never transient. */
  private def isTransient(t: Throwable): Boolean = t match {
    case h: S3HttpException => h.code >= 500
    case _: java.io.FileNotFoundException => false
    case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    case _: IOException => true // premature EOF, connection reset, timeout
    case _ => false
  }

  /** Bounded exponential-backoff retry for IDEMPOTENT requests only
    * (GET / HEAD / LIST / DELETE / full-object PUT / COPY): re-issuing
    * them lands the same end state however many times the store applied
    * them (s3a's own retry policy makes the same split,
    * org.apache.hadoop.fs.s3a.S3ARetryPolicy). CONDITIONAL puts never
    * come through here — a blind re-PUT of `If-None-Match: *` after an
    * ambiguous failure would answer 412 against the caller's OWN landed
    * write and masquerade as a lost race (see [[S3Output.close]]). */
  private def retrying[A](what: => String)(body: => A): A = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return body
      catch {
        case t: Throwable if attempt <= retryLimit && isTransient(t) =>
          S3LiteFileSystem.retriedRequests.incrementAndGet()
          try Thread.sleep(retryBaseMs * (1L << math.min(attempt - 1, 6)))
          catch { case _: InterruptedException =>
            Thread.currentThread().interrupt(); throw t }
        case t: Throwable =>
          if (isTransient(t)) throw new IOException(
            s"$what failed after $retryLimit retries", t)
          else throw t
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def getScheme: String = if (fsUri == null) "s3a" else fsUri.getScheme
  override def getUri: URI = fsUri
  override def getWorkingDirectory: Path = workingDir
  override def setWorkingDirectory(dir: Path): Unit = { workingDir = dir }

  override def hasPathCapability(path: Path, capability: String): Boolean =
    capability == "fs.capability.conditional.create" ||
      super.hasPathCapability(path, capability)

  /** Object key for a path: qualified, authority-stripped, no leading slash. */
  private def key(p: Path): String = {
    val raw = makeQualified(p).toUri.getPath
    if (raw.startsWith("/")) raw.drop(1) else raw
  }

  // -------------------------------------------------------------- HTTP

  private def connect(method: String, k: String, query: String = null,
      headers: Map[String, String] = Map.empty): HttpURLConnection = {
    val encKey = S3LiteFileSystem.encodeKey(k)
    val q = if (query == null) "" else s"?$query"
    val url = new URL(s"$endpoint/$bucket/$encKey$q")
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(30000)
    c.setReadTimeout(120000)
    headers.foreach { case (h, v) => c.setRequestProperty(h, v) }
    c
  }

  private def drain(in: InputStream): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }

  private def finish(c: HttpURLConnection): (Int, Array[Byte]) = {
    val code = c.getResponseCode
    val body =
      if (code >= 400) { Option(c.getErrorStream).map(drain).getOrElse(Array.empty) }
      else drain(c.getInputStream)
    // a dropped connection can deliver a SHORT 200 body without any
    // exception — and a short 200 is byte-for-byte indistinguishable
    // from a legitimate Range-ignoring full-object 200 (the rangeGet
    // fallback would then cache torn bytes as the whole object: silent
    // corruption). The declared Content-Length is the tiebreaker; a
    // mismatch is a torn read -> transient, retried by idempotent
    // callers. (Found by the lossy-window storm, r13 VERDICT #5.)
    val declared = c.getHeaderFieldLong("Content-Length", -1L)
    if (code < 400 && declared >= 0 && body.length != declared)
      throw new IOException(
        s"truncated body: got ${body.length} of $declared declared bytes")
    (code, body)
  }

  // ------------------------------------------------------------ status

  /** HEAD the object; None on 404. Any other failure surfaces (after
    * idempotent retries) instead of masquerading as "not found" — a 503
    * read as None would make exists() report a live manifest missing. */
  private def headObject(k: String): Option[FileStatus] =
    retrying(s"HEAD $k") {
      val c = connect("HEAD", k)
      val code = c.getResponseCode
      c.disconnect()
      if (code == 200) {
        val len = c.getHeaderFieldLong("Content-Length", 0L)
        val mtime = c.getHeaderFieldDate("Last-Modified", 0L)
        Some(new FileStatus(len, false, 1, DefaultBlockSize, mtime,
          makeQualified(new Path("/" + k))))
      } else if (code == 404) None
      else throw new S3HttpException(code, s"HEAD $k -> HTTP $code")
    }

  /** A "directory" exists iff some key extends `k/` (or k is the root). */
  private def isPrefix(k: String): Boolean =
    k.isEmpty || listPage(k + "/", delimiter = null, maxKeys = 1, token = null)
      ._1.nonEmpty

  override def getFileStatus(p: Path): FileStatus = {
    val k = key(p)
    if (k.isEmpty)
      return new FileStatus(0, true, 1, DefaultBlockSize, 0, makeQualified(p))
    headObject(k) match {
      case Some(st) => st
      case None if isPrefix(k) =>
        new FileStatus(0, true, 1, DefaultBlockSize, 0, makeQualified(p))
      case None => throw new FileNotFoundException(p.toString)
    }
  }

  override def exists(p: Path): Boolean =
    try { getFileStatus(p); true } catch { case _: FileNotFoundException => false }

  // -------------------------------------------------------------- list

  /** One ListObjectsV2 page: (contents (key,size,mtime), commonPrefixes,
    * nextToken). */
  private def listPage(prefix: String, delimiter: String, maxKeys: Int,
      token: String): (Seq[(String, Long, Long)], Seq[String], Option[String]) = {
    val qs = new StringBuilder("list-type=2")
    qs.append("&prefix=").append(URLEncoder.encode(prefix, UTF_8.name))
    if (delimiter != null)
      qs.append("&delimiter=").append(URLEncoder.encode(delimiter, UTF_8.name))
    qs.append("&max-keys=").append(maxKeys)
    if (token != null)
      qs.append("&continuation-token=").append(URLEncoder.encode(token, UTF_8.name))
    retrying(s"LIST $prefix") {
      val (code, body) = finish(connect("GET", "", qs.toString))
      if (code != 200)
        throw new S3HttpException(code, s"LIST $prefix -> HTTP $code")
      parseListXml(new String(body, UTF_8))
    }
  }

  private def listAll(prefix: String, delimiter: String): (Seq[(String, Long, Long)], Seq[String]) = {
    val contents = Seq.newBuilder[(String, Long, Long)]
    val prefixes = Seq.newBuilder[String]
    var token: Option[String] = None
    var first = true
    while (first || token.isDefined) {
      first = false
      val (cs, ps, next) = listPage(prefix, delimiter, listPageSize, token.orNull)
      contents ++= cs
      prefixes ++= ps
      token = next
    }
    (contents.result(), prefixes.result().distinct)
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    val k = key(p)
    headObject(k) match {
      case Some(st) => Array(st)
      case None =>
        val prefix = if (k.isEmpty) "" else k + "/"
        val (all, prefixes) = listAll(prefix, "/")
        if (k.nonEmpty && all.isEmpty && prefixes.isEmpty)
          throw new FileNotFoundException(p.toString)
        val contents = all.filterNot(_._1 == prefix) // self dir-marker
        val files = contents.map { case (ck, size, mtime) =>
          new FileStatus(size, false, 1, DefaultBlockSize, mtime,
            makeQualified(new Path("/" + ck)))
        }
        val dirs = prefixes.map { pre =>
          new FileStatus(0, true, 1, DefaultBlockSize, 0,
            makeQualified(new Path("/" + pre.stripSuffix("/"))))
        }
        (files ++ dirs).toArray
    }
  }

  // -------------------------------------------------------------- read

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    val st = getFileStatus(p)
    if (st.isDirectory) throw new FileNotFoundException(s"is a directory: $p")
    new FSDataInputStream(new S3Input(key(p), st.getLen))
  }

  /** Seekable + positioned reads over ranged GETs. Sequential reads
    * fetch at least [[ReadAheadKey]] bytes (default 64 KB, the same
    * default as s3a's fs.s3a.readahead.range) and serve subsequent
    * reads from the buffer — parquet footer parsing issues a burst of
    * tiny reads that would otherwise each cost a round trip (~20 ms on
    * real S3). Positioned reads (parquet's chunk-sized preads) bypass
    * the buffer and fetch exactly the requested range, so the
    * footer-then-column access pattern never pulls the whole object. */
  private class S3Input(k: String, len: Long) extends FSInputStream {
    private var pos = 0L
    private var closed = false
    private var bufStart = 0L
    private var buf: Array[Byte] = null

    override def seek(p: Long): Unit = {
      if (p < 0 || p > len) throw new java.io.EOFException(s"seek($p) len=$len")
      pos = p
    }
    override def getPos: Long = pos
    override def seekToNewSource(targetPos: Long): Boolean = false

    /** Ranged GET; returns (offset the body starts at, body). 206 means
      * the endpoint honored the Range (body starts at `start`); 200
      * means it IGNORED the header and returned the WHOLE object, whose
      * body starts at 0 — treating that body as if it began at `start`
      * would serve every later buffered read shifted by `start` bytes
      * (silent corruption once the readahead buffer persists it). */
    private def rangeGet(start: Long, n: Int): (Long, Array[Byte]) = {
      val end = math.min(len, start + n) - 1
      retrying(s"GET $k range $start-$end") {
        val (code, body) = finish(connect("GET", k,
          headers = Map("Range" -> s"bytes=$start-$end")))
        code match {
          case 206 => (start, body)
          case 200 => (0L, body)
          case _ => throw new S3HttpException(code,
            s"GET $k range $start-$end -> HTTP $code")
        }
      }
    }

    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
    }

    override def read(b: Array[Byte], off: Int, l: Int): Int = this.synchronized {
      if (closed) throw new IOException("stream closed")
      if (l == 0) return 0 // InputStream contract: len 0 -> 0 even at EOF
      if (pos >= len) return -1
      val n = math.min(l.toLong, len - pos).toInt
      if (n <= 0) return 0
      // serve from the readahead buffer when it covers pos
      if (buf == null || pos < bufStart || pos >= bufStart + buf.length) {
        val (start0, body) = rangeGet(pos, math.max(n, readAhead))
        buf = body
        bufStart = start0
      }
      val avail = math.min(n.toLong, bufStart + buf.length - pos).toInt
      System.arraycopy(buf, (pos - bufStart).toInt, b, off, avail)
      pos += avail
      avail
    }

    override def read(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Int = {
      if (length == 0) return 0
      if (position >= len) return -1
      val n = math.min(length.toLong, len - position).toInt
      if (n <= 0) return 0
      // serve from the buffer when it already covers the start of the
      // range — in particular, once a Range-ignoring endpoint has
      // returned the whole object, later preads must not re-download it
      // (parquet issues one pread per column chunk: K chunks over an
      // N-byte object would otherwise transfer K*N bytes)
      this.synchronized {
        if (buf != null && position >= bufStart &&
            position < bufStart + buf.length) {
          val skip = (position - bufStart).toInt
          val avail = math.min(n.toLong, (buf.length - skip).toLong).toInt
          System.arraycopy(buf, skip, buffer, offset, avail)
          return avail
        }
      }
      val (start0, data) = rangeGet(position, n)
      // start0 < position on a Range-ignoring 200 (whole object): slice
      val skip = (position - start0).toInt
      if (start0 == 0L && position > 0)
        // the whole object is in hand — keep it for the next read
        this.synchronized { buf = data; bufStart = 0L }
      val avail = math.min(n.toLong, (data.length - skip).toLong).toInt
      if (avail <= 0) return -1
      System.arraycopy(data, skip, buffer, offset, avail)
      avail
    }

    override def available(): Int = math.min(len - pos, Int.MaxValue.toLong).toInt
    override def close(): Unit = { closed = true }
  }

  // ------------------------------------------------------------- write

  /** Buffered upload; the object materializes atomically at close().
    * overwrite=false carries `If-None-Match: *` and maps 412 to
    * FileAlreadyExistsException — a true store-enforced conditional put. */
  private class S3Output(k: String, overwrite: Boolean) extends OutputStream {
    private val buf = new ByteArrayOutputStream()
    private var closed = false
    override def write(b: Int): Unit = buf.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      buf.write(b, off, len)
    private def putOnce(): Unit = {
      val headers =
        if (overwrite) Map.empty[String, String]
        else Map("If-None-Match" -> "*")
      val c = connect("PUT", k, headers = headers)
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(buf.size())
      val out = c.getOutputStream
      buf.writeTo(out)
      out.close()
      val (code, _) = finish(c)
      if (code == 412)
        throw new FileAlreadyExistsException(s"conditional put lost: $k")
      if (code != 200)
        throw new S3HttpException(code, s"PUT $k -> HTTP $code")
    }

    /** GET the object and compare with what this stream holds: Some(eq)
      * when present, None on 404. The GET is idempotent -> retried. */
    private def readBack(): Option[Boolean] = retrying(s"GET $k") {
      val (code, body) = finish(connect("GET", k))
      if (code == 200) Some(java.util.Arrays.equals(body, buf.toByteArray))
      else if (code == 404) None
      else throw new S3HttpException(code, s"GET $k -> HTTP $code")
    }

    override def close(): Unit = {
      if (closed) return // idempotent: a second close must not re-PUT
      closed = true
      // full-object overwrite PUTs are idempotent -> plainly retried
      if (overwrite) { retrying(s"PUT $k")(putOnce()); return }
      // A CONDITIONAL put must never be blindly re-issued after a
      // transient failure: if the store applied it and only the reply
      // was lost, the re-PUT answers 412 against our OWN landed write
      // and masquerades as a lost race. Disambiguate by CONTENT
      // read-back instead: our exact bytes present = the put landed
      // (success); different bytes = a racer truly won (the 412
      // contract, FileAlreadyExistsException); absent = the put never
      // took effect, safe to re-attempt (bounded). This keeps
      // store-enforced exclusivity exact under 503/500/torn-connection
      // windows — the commit layer above sees only the clean contract.
      var attempt = 0
      while (true) {
        attempt += 1
        try { putOnce(); return }
        catch {
          case t: Throwable if isTransient(t) =>
            readBack() match {
              case Some(true) => return // our put landed; reply was lost
              case Some(false) =>
                throw new FileAlreadyExistsException(
                  s"conditional put lost: $k")
              case None if attempt <= retryLimit =>
                S3LiteFileSystem.retriedRequests.incrementAndGet()
                try Thread.sleep(
                  retryBaseMs * (1L << math.min(attempt - 1, 6)))
                catch { case _: InterruptedException =>
                  Thread.currentThread().interrupt(); throw t }
              case None => throw new IOException(
                s"conditional PUT $k failed after $retryLimit retries", t)
            }
        }
      }
    }
  }

  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val k = key(p)
    if (k.isEmpty) throw new IOException("cannot create bucket root")
    // no client-side exists pre-check: the STORE enforces exclusivity
    // via If-None-Match at close() (412 -> FileAlreadyExistsException),
    // which is the only race-free contract an object store offers
    new FSDataOutputStream(new S3Output(k, overwrite), statistics)
  }

  override def append(p: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("object store: no append")

  /** Directory-marker semantics (same convention as hadoop-aws): an
    * empty object at `key/` makes an empty "directory" visible, so
    * CREATE NAMESPACE on an object-store warehouse exists before any
    * table populates it. Listings and emptiness checks treat the
    * self-marker as invisible. */
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    val k = key(p)
    if (k.isEmpty) return true
    // Hadoop committer work dirs (_temporary/<appAttempt>/<taskAttempt>)
    // are mkdirs'd once per task and only ever listed AFTER files land in
    // them — a marker there is 2-3 wasted round trips per task per job.
    // Real directory visibility is only needed for dirs that must exist
    // while EMPTY (namespaces); skip the committer convention entirely.
    if (k.split('/').contains("_temporary")) return true
    if (isPrefix(k)) return true // already populated
    if (headObject(k).isDefined)
      throw new IOException(s"file exists at directory path: $p")
    val out = new S3Output(k + "/", overwrite = true)
    out.close()
    true
  }

  // ------------------------------------------------------------ delete

  /** Multi-object delete: POST ?delete with up to 1000 keys per page. */
  private def deleteBatch(keys: Seq[String]): Unit =
    keys.grouped(1000).foreach { page =>
      val xml = new StringBuilder("<Delete>")
      page.foreach(k => xml.append("<Object><Key>").append(xmlEsc(k))
        .append("</Key></Object>"))
      xml.append("</Delete>")
      val bytes = xml.toString.getBytes(UTF_8)
      retrying("multi-delete") {
        val c = connect("POST", "", "delete")
        c.setDoOutput(true)
        c.setFixedLengthStreamingMode(bytes.length)
        val out = c.getOutputStream
        out.write(bytes)
        out.close()
        val (code, _) = finish(c)
        if (code != 200)
          throw new S3HttpException(code, s"multi-delete -> HTTP $code")
      }
    }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    val k = key(p)
    headObject(k) match {
      case Some(_) =>
        retrying(s"DELETE $k") {
          val (code, _) = finish(connect("DELETE", k))
          if (code >= 500)
            throw new S3HttpException(code, s"DELETE $k -> HTTP $code")
          code == 204 || code == 200
        }
      case None =>
        val prefix = if (k.isEmpty) "" else k + "/"
        val (contents, _) = listAll(prefix, null)
        if (contents.isEmpty) return false
        // an empty directory is its marker alone — deletable either way
        if (!recursive && contents.exists(_._1 != prefix))
          throw new IOException(s"directory not empty: $p")
        deleteBatch(contents.map(_._1))
        true
    }
  }

  // ------------------------------------------------------------ rename

  private def copyObject(src: String, dst: String): Unit =
    retrying(s"COPY $src") {
      // copy-source must be percent-encoded the same way object paths
      // are, or keys with spaces/special chars miss against a real
      // endpoint
      val c = connect("PUT", dst,
        headers = Map("x-amz-copy-source" ->
          s"/$bucket/${S3LiteFileSystem.encodeKey(src)}"))
      val (code, _) = finish(c)
      if (code != 200)
        throw new S3HttpException(code, s"COPY $src -> $dst: HTTP $code")
    }

  /** Object-store rename: per-object server-side COPY then DELETE.
    * NOT atomic — the graft commit protocol never relies on rename
    * atomicity over schemes in the conditional-put set (the manifest
    * CAS is the only commit point; data files are invisible until a
    * manifest references them). Follows the Hadoop contract: renaming
    * onto an existing directory moves the source UNDER it. */
  override def rename(src: Path, dst: Path): Boolean = {
    val sk = key(src)
    val dstStatus = try Some(getFileStatus(dst)) catch {
      case _: FileNotFoundException => None
    }
    val effDst = dstStatus match {
      case Some(st) if st.isDirectory => new Path(dst, src.getName)
      case Some(_) => return false // dst file exists
      // no dst-parent existence check: directories are virtual and only
      // exist once populated, so a parent probe would reject legitimate
      // first-object renames (a file moved into an unpopulated prefix)
      case None => dst
    }
    val dk = key(effDst)
    if (sk == dk) return true
    headObject(sk) match {
      case Some(_) =>
        if (headObject(dk).isDefined) return false
        copyObject(sk, dk)
        // code check inside the retry or a throttled DELETE is silently
        // swallowed and the object survives at BOTH keys
        retrying(s"DELETE $sk") {
          val (code, _) = finish(connect("DELETE", sk))
          if (code >= 500)
            throw new S3HttpException(code, s"DELETE $sk -> HTTP $code")
        }
        true
      case None if isPrefix(sk) =>
        val (contents, _) = listAll(sk + "/", null)
        contents.foreach { case (ck, _, _) =>
          copyObject(ck, dk + "/" + ck.stripPrefix(sk + "/"))
        }
        deleteBatch(contents.map(_._1))
        true
      case None => false
    }
  }

  // --------------------------------------------------------- XML parse

  private def parseListXml(xml: String): (Seq[(String, Long, Long)], Seq[String], Option[String]) = {
    val contents = ContentsRe.findAllMatchIn(xml).map { m =>
      val block = m.group(1)
      val k = tagValue(block, "Key").getOrElse("")
      val size = tagValue(block, "Size").map(_.toLong).getOrElse(0L)
      // S3 ISO8601 instant, e.g. 2009-10-12T17:50:30.000Z
      val mtime = tagValue(block, "LastModified")
        .flatMap(s => scala.util.Try(
          java.time.Instant.parse(s).toEpochMilli).toOption)
        .getOrElse(0L)
      (xmlUnesc(k), size, mtime)
    }.toSeq
    val prefixes = PrefixRe.findAllMatchIn(xml)
      .flatMap(m => tagValue(m.group(1), "Prefix")).map(xmlUnesc).toSeq
    val token = tagValue(xml, "NextContinuationToken").map(xmlUnesc)
    (contents, prefixes, token)
  }
}

object S3LiteFileSystem {
  /** Endpoint URL of the S3-compatible store, e.g. http://127.0.0.1:9000 */
  val EndpointKey = "graft.s3.endpoint"

  /** ListObjectsV2 page size (max-keys). Default 1000, S3's ceiling. */
  val ListPageSizeKey = "graft.s3.list.pageSize"

  /** Minimum bytes fetched per sequential ranged GET (readahead buffer;
    * s3a analog: fs.s3a.readahead.range, same 64 KB default). */
  val ReadAheadKey = "graft.s3.readahead"

  /** Max retries for idempotent requests on transient failures (503
    * SlowDown / 5xx / torn connections). s3a analog: fs.s3a.retry.limit. */
  val RetryLimitKey = "graft.s3.retry.limit"

  /** Backoff base in ms; attempt n sleeps base * 2^(n-1), capped at 64×. */
  val RetryBaseMsKey = "graft.s3.retry.baseMs"

  /** Idempotent requests re-issued after a transient failure (process-
    * wide; specs snapshot-and-diff, bench artifacts may report it). */
  val retriedRequests = new java.util.concurrent.atomic.AtomicLong()

  /** A non-2xx the protocol doesn't map to a definite answer: 5xx are
    * transient (retried when idempotent); anything else surfaces. */
  final class S3HttpException(val code: Int, msg: String)
      extends IOException(msg)

  /** Percent-encode an object key per path segment, preserving empty
    * segments (directory markers end in '/'). [[decodeKey]] in
    * [[S3LiteServer]] is the inverse — keep them in sync. */
  private[sources] def encodeKey(k: String): String =
    k.split("/", -1).map(seg =>
      URLEncoder.encode(seg, UTF_8.name).replace("+", "%20")).mkString("/")

  private val DefaultBlockSize = 32L * 1024 * 1024

  private val ContentsRe = "(?s)<Contents>(.*?)</Contents>".r
  private val PrefixRe = "(?s)<CommonPrefixes>(.*?)</CommonPrefixes>".r

  private def tagValue(xml: String, tag: String): Option[String] =
    s"(?s)<$tag>(.*?)</$tag>".r.findFirstMatchIn(xml).map(_.group(1))

  private[graft] def xmlEsc(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case c => c.toString
  }

  private[graft] def xmlUnesc(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
}
