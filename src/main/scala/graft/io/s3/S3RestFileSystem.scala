package graft.io.s3

import java.io.{ByteArrayOutputStream, FileNotFoundException, IOException, InputStream, OutputStream}
import java.net.{HttpURLConnection, URI, URL}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A minimal Hadoop [[FileSystem]] speaking the public Amazon S3 REST
  * dialect (path-style addressing, `list-type=2` pagination, server-side
  * `x-amz-copy-source` copy) over plain `java.net` — scheme `s3r://`.
  *
  * Why this exists: the engine's object-store contract (SURVEY §2 K6;
  * the reference shells out to `aws s3 sync`, `utils.py:142-205`) had
  * only ever been proven against a local-disk mock scheme, because the
  * build sandbox ships no `hadoop-aws` jar and no network egress. This
  * class removes both excuses: it is self-contained (zero new
  * dependencies) and is exercised end-to-end in `S3RestFsSpec` against a
  * live in-sandbox S3-protocol server (moto), covering every operation
  * the Zarr sink + DSv2 re-scan issue: `create`/`open`/`rename`/
  * `delete`/`listStatus`/`getFileStatus`/`mkdirs`, with real HTTP on
  * every call.
  *
  * Configuration (session Hadoop conf, i.e. `spark.hadoop.*`):
  *   - `fs.s3r.impl` = this class (registration);
  *   - `fs.s3r.endpoint` = base URL of the S3-compatible endpoint,
  *     scheme + host + port (required; e.g. `http://127.0.0.1:5000`);
  *   - `fs.s3r.access.key` = access-key id (default `graft`);
  *   - `fs.s3r.secret.key` = when set, EVERY request is signed with the
  *     real AWS Signature Version 4 algorithm (canonical request,
  *     SHA-256 payload hash, AWS4/date/region/service HMAC chain) —
  *     verified in S3RestFsSpec against an endpoint that independently
  *     recomputes and ENFORCES signatures (moto under
  *     INITIAL_NO_AUTH_ACTION_COUNT: a wrong secret fails with
  *     SignatureDoesNotMatch exactly as on AWS). When unset, a V4-shaped
  *     static header is sent instead — the unsigned dev mode for
  *     endpoints that don't verify;
  *   - `fs.s3r.session.token` = optional STS session token for
  *     TEMPORARY credentials (an AssumeRole / federation triple): sent
  *     and signed as `x-amz-security-token` on every request, exactly
  *     as SigV4 specifies — verified end-to-end in S3SigV4Spec against
  *     moto-minted STS credentials;
  *   - `fs.s3r.region` = SigV4 credential-scope region (default
  *     `us-east-1`);
  *   - `fs.s3r.sigv4.wsgi.compat` (default false) = keep the characters
  *     `/` and `:` RAW in query-string values (both on the wire and in
  *     the signed canonical form). AWS's normative canonicalization
  *     percent-encodes everything outside the unreserved set, but
  *     WSGI-fronted S3 clones (moto server mode behind Werkzeug)
  *     normalize `%2F`/`%3A`/`%7E` back to their raw forms BEFORE
  *     recomputing the signature, so the strict form cannot verify
  *     there (measured: werkzeug keeps `%2B`/`%3D`/`%26`/`%20` encoded
  *     and decodes exactly `/ : ~`; `~` is already unreserved). Leave
  *     false against real AWS; set true only for WSGI endpoints. Both
  *     forms are legal on the wire — the flag only selects which
  *     canonicalization the OTHER side will reproduce;
  *   - `fs.s3r.list.max.keys` = page size for `list-type=2` (default
  *     1000; tests lower it to force continuation-token pagination).
  *   - `fs.s3r.multipart.part.size` = upload part size in bytes (default
  *     64 MB, floor-clamped to the protocol's 5 MiB part minimum).
  *     Objects at or under one part upload as a single atomic PUT.
  *   - `fs.s3r.retry.limit` = extra attempts for transient failures
  *     (429/5xx/transport resets; default 4) and
  *     `fs.s3r.retry.interval.ms` = backoff base (default 100 ms,
  *     exponential, ±50% jitter) — see the retry-policy note on `http`.
  *
  * Semantics vs HDFS (same contract `s3a` documents):
  *   - a single-object PUT is atomic and complete-on-visibility — readers
  *     never observe a partial object, which is the property the Zarr
  *     chunk protocol actually relies on;
  *   - `rename` is COPY + DELETE, NOT atomic, and the fail-if-destination-
  *     exists check is a separate HEAD (TOCTOU window): under true
  *     concurrent commit of the same chunk the winner is the LAST writer,
  *     not the first as on HDFS. Both writers wrote identical bytes in
  *     the Zarr sink's retry protocol, so the store stays correct either
  *     way (`ZarrDataWriter`, the `format("zarr")` sink);
  *   - directories are virtual: `mkdirs` writes a zero-byte `key/` marker
  *     (s3a convention), list results merge markers + common prefixes;
  *   - `append`/`truncate` are unsupported (as on all S3 stores).
  *
  * Scale notes (100 TB honesty): uploads buffer at most ONE PART in
  * memory — objects up to `fs.s3r.multipart.part.size` (default 64 MB)
  * go as a single atomic PUT (the Zarr chunk fast path), larger ones
  * switch to S3 multipart upload (initiate / per-part PUT / complete
  * with the ETag manifest, abort on failure), so writer memory is
  * bounded regardless of object size and the >5 GB single-PUT protocol
  * limit is sidestepped — up to a point: S3 caps a multipart upload at
  * 10,000 parts, so the 64 MB default part size tops out at ~625 GB per
  * object; objects beyond that need `fs.s3r.multipart.part.size` raised
  * proportionally (the protocol allows parts to 5 GB, i.e. ~48 TB/object
  * at the ceiling). AWS floors part size at 5 MB (except the last
  * part) — keep the conf at or above that against real endpoints; tests
  * lower it to force the multipart path on small data. Recursive delete
  * issues one DELETE per key where production would batch 1000 per
  * `POST ?delete`. Listing paginates properly, so a million-chunk store
  * walks in `O(n / maxKeys)` round trips with no driver memory blowup.
  */
class S3RestFileSystem extends FileSystem with graft.io.AtomicCreate {

  private var fsUri: URI = _
  private var bucket: String = _
  private var endpoint: String = _
  private var authHeader: String = _
  private var accessKey: String = _
  private var secretKey: String = _ // null => static-header (unsigned) mode
  private var sessionToken: String = _ // null => permanent credentials
  private var region: String = "us-east-1"
  private var listMaxKeys: Int = 1000
  private var partSize: Int = 64 * 1024 * 1024
  private var wsgiCompat: Boolean = false
  private var retryLimit: Int = 4
  private var retryBaseMs: Long = 100
  private var workDir: Path = _

  override def getScheme: String = "s3r"

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(s"${name.getScheme}://${name.getAuthority}")
    bucket = name.getAuthority
    require(bucket != null && bucket.nonEmpty, "s3r URI needs a bucket authority: s3r://bucket/key")
    endpoint = conf.getTrimmed("fs.s3r.endpoint")
    require(endpoint != null && endpoint.nonEmpty,
      "fs.s3r.endpoint is required (e.g. http://127.0.0.1:5000) — set it in the " +
      "session Hadoop conf (spark.hadoop.fs.s3r.endpoint)")
    endpoint = endpoint.stripSuffix("/")
    accessKey = conf.getTrimmed("fs.s3r.access.key", "graft")
    secretKey = Option(conf.getTrimmed("fs.s3r.secret.key", "")).filter(_.nonEmpty).orNull
    sessionToken = Option(conf.getTrimmed("fs.s3r.session.token", "")).filter(_.nonEmpty).orNull
    region = conf.getTrimmed("fs.s3r.region", "us-east-1")
    wsgiCompat = conf.getBoolean("fs.s3r.sigv4.wsgi.compat", false)
    // V4-shaped static header: compatible endpoints parse the key id out of
    // Credential= and skip signature verification (see class doc); only
    // used when no secret key is configured — with one, every request is
    // really SigV4-signed (authHeaders)
    authHeader = s"AWS4-HMAC-SHA256 Credential=$accessKey/20260101/us-east-1/s3/aws4_request, " +
      "SignedHeaders=host, Signature=0000"
    listMaxKeys = math.max(1, conf.getInt("fs.s3r.list.max.keys", 1000))
    // floor = the S3 protocol's own 5 MiB non-final-part minimum (both
    // AWS and moto reject smaller parts with EntityTooSmall at complete)
    partSize = math.max(5 * 1024 * 1024,
      conf.getInt("fs.s3r.multipart.part.size", 64 * 1024 * 1024))
    retryLimit = math.max(0, conf.getInt("fs.s3r.retry.limit", 4))
    retryBaseMs = math.max(1L, conf.getLong("fs.s3r.retry.interval.ms", 100L))
    workDir = new Path(fsUri.toString + "/")
  }

  override def getUri: URI = fsUri
  override def getWorkingDirectory: Path = workDir
  override def setWorkingDirectory(dir: Path): Unit = workDir = makeQualified(dir)

  // ---- key <-> path ----------------------------------------------------

  /** Object key for a path: qualified, bucket-relative, no leading '/'. */
  private def keyOf(f: Path): String = {
    val p = makeQualified(f)
    p.toUri.getPath.stripPrefix("/")
  }

  private def pathOf(key: String): Path =
    new Path(fsUri.toString + "/" + key)

  /** Percent-encode a key, preserving '/' separators (S3 URL rules). */
  private def encodeKey(key: String): String = S3RestFileSystem.encodeKey(key)

  // ---- HTTP + AWS Signature Version 4 -----------------------------------

  private final case class HttpResp(code: Int, body: Array[Byte],
                                    contentLength: Long, lastModified: Long,
                                    etag: String)

  private def rfc3986(s: String): String = S3RestFileSystem.rfc3986(s)

  /** Authentication headers for one request. With `fs.s3r.secret.key`
    * set, this is the REAL SigV4 algorithm — canonical request over the
    * exact URI/query/headers sent, SHA-256 payload hash, and the
    * AWS4/date/region/service HMAC key chain — verified in S3RestFsSpec
    * against an endpoint that independently recomputes and enforces the
    * signature (moto under INITIAL_NO_AUTH_ACTION_COUNT, which rejects a
    * wrong secret with SignatureDoesNotMatch exactly like AWS). Without
    * a secret, a V4-shaped static header is sent for endpoints that
    * don't verify (the unsigned dev mode). */
  private def authHeaders(method: String, canonicalUri: String, canonicalQuery: String,
                          body: Array[Byte],
                          extraHeaders: Seq[(String, String)]): Seq[(String, String)] = {
    if (secretKey == null) return Seq("Authorization" -> authHeader)
    val now = java.time.Instant.now().atOffset(java.time.ZoneOffset.UTC)
    val amzDate = now.format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'"))
    // a session token is just one more x-amz-* header — it enters the
    // signed set through the same filter as every other x-amz-* header
    val withToken =
      if (sessionToken == null) extraHeaders
      else extraHeaders :+ ("x-amz-security-token" -> sessionToken)
    val extra = if (sessionToken == null) Nil
      else Seq("x-amz-security-token" -> sessionToken)
    // sign the Host header EXACTLY as HttpURLConnection will send it: Java
    // elides a protocol-default port (:80 for http, :443 for https), so an
    // endpoint configured with an explicit default port must be signed
    // without it or every signature mismatches
    val u = URI.create(endpoint)
    val host =
      if ((u.getScheme == "http" && u.getPort == 80) ||
          (u.getScheme == "https" && u.getPort == 443)) u.getHost
      else u.getAuthority
    extra ++ S3RestFileSystem.signV4(method, canonicalUri, canonicalQuery, body,
      withToken, amzDate, host, accessKey, secretKey, region)
  }

  private def readAll(in: InputStream): Array[Byte] = {
    if (in == null) return Array.emptyByteArray
    val bos = new ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    var total = 0L
    var n = in.read(buf)
    while (n >= 0) {
      total += n
      // a chunked response advertises Content-Length -1, so httpOnce's
      // pre-read advertised-size refusal never fires for it — enforce the
      // same cap WHILE streaming, aborting before the buffer grows past
      // it, so a Range-ignoring endpoint on chunked transfer encoding
      // cannot OOM the reader either
      if (total > S3RestFileSystem.MaxFullObjectBuffer) {
        in.close()
        throw new S3RestFileSystem.NonRetryableIOException(
          s"s3r response exceeded ${S3RestFileSystem.MaxFullObjectBuffer} bytes " +
          "while streaming — refusing to buffer further (Range-ignoring " +
          "endpoint shipping a whole object over chunked encoding?)")
      }
      bos.write(buf, 0, n)
      n = in.read(buf)
    }
    in.close()
    bos.toByteArray
  }

  /** One S3 REST call with bounded exponential retry. `encPath` is the
    * already-percent-encoded `bucket/key` path; `params` are RAW
    * (unencoded) query pairs — they are strict-encoded and sorted ONCE
    * per attempt, so the query string that is signed is byte-identical
    * to the one sent.
    *
    * Retry policy (the s3a/AWS-SDK class of behavior real S3 demands —
    * it throttles with 503 SlowDown and sheds with 500/502/504):
    * transient transport failures (connect/reset IOException) and
    * retryable statuses (429/500/502/503/504) back off exponentially
    * from `fs.s3r.retry.interval.ms` (default 100 ms, doubling, ±50%
    * jitter) for up to `fs.s3r.retry.limit` (default 4) extra attempts,
    * then surface the last failure. Every request the FS issues is a
    * full in-memory replay (bodies are byte arrays), and each retry is
    * RE-SIGNED with a fresh x-amz-date, so a backoff that crosses a
    * signature-validity boundary still verifies. GET/PUT/DELETE/HEAD
    * are idempotent; multipart part PUTs re-upload the same partNumber
    * (last write wins, by protocol); a retried MPU initiate whose first
    * response was lost can orphan an upload id — bounded, invisible to
    * readers, and reclaimed by standard lifecycle abort rules. 4xx
    * (other than 429) never retries: NoSuchKey/AccessDenied are answers,
    * not weather. Fault-injected end-to-end in S3RetrySpec: a 503
    * SlowDown burst mid-Zarr-commit completes without caller-visible
    * error. */
  /** Exponential backoff with ±50% jitter so a fleet of executors
    * throttled together does not re-synchronize on the retry clock.
    * Shared by the transport retry in [[http]] and the MPU-COMPLETE
    * body-level retry (one backoff discipline, one attempt budget). */
  private def backoff(attempt: Int): Unit = {
    val base = retryBaseMs << math.min(attempt, 20)
    val jitter = (base * (java.util.concurrent.ThreadLocalRandom.current().nextDouble() - 0.5)).toLong
    Thread.sleep(math.max(1L, base + jitter))
  }

  private def http(method: String, encPath: String,
                   params: Seq[(String, String)] = Nil,
                   body: Array[Byte] = null,
                   headers: Seq[(String, String)] = Nil): HttpResp = {
    var attempt = 0
    while (true) {
      val outcome: Either[IOException, HttpResp] =
        try Right(httpOnce(method, encPath, params, body, headers))
        catch {
          // deterministic refusals (e.g. the response-size cap) are not
          // weather — surface immediately instead of burning the backoff
          case e: S3RestFileSystem.NonRetryableIOException => throw e
          case e: IOException => Left(e)
        }
      val retryable = outcome match {
        case Right(r) => S3RestFileSystem.retryableStatus(r.code)
        case Left(_) => true
      }
      if (!retryable || attempt >= retryLimit) {
        return outcome.fold(throw _, identity)
      }
      backoff(attempt)
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }

  private def httpOnce(method: String, encPath: String,
                       params: Seq[(String, String)],
                       body: Array[Byte],
                       headers: Seq[(String, String)]): HttpResp = {
    val canonicalQuery = S3RestFileSystem.canonicalQuery(params, wsgiCompat)
    val url = s"$endpoint/$encPath" + (if (canonicalQuery.isEmpty) "" else s"?$canonicalQuery")
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    authHeaders(method, "/" + encPath, canonicalQuery, body, headers)
      .foreach { case (k, v) => c.setRequestProperty(k, v) }
    try {
      if (body != null) {
        // explicit octet-stream: form-encoded defaults make WSGI servers
        // swallow the body into request.form and store a 0-byte object
        c.setRequestProperty("Content-Type", "application/octet-stream")
        c.setDoOutput(true)
        c.setFixedLengthStreamingMode(body.length.toLong)
        val os = c.getOutputStream
        try os.write(body) finally os.close()
      }
      val code = c.getResponseCode
      // refuse an over-cap ADVERTISED body before reading a byte: the
      // only legitimate large response is a ranged GET slice (<= the
      // read window); a bigger advertised body is a Range-ignoring
      // endpoint shipping a whole object. Chunked responses advertise
      // -1 and are caught by readAll's streaming byte count instead.
      val advertised = c.getContentLengthLong
      if (code < 400 && advertised > S3RestFileSystem.MaxFullObjectBuffer)
        throw new S3RestFileSystem.NonRetryableIOException(
          s"s3r $method $encPath: response advertises $advertised bytes — " +
          s"refusing to buffer more than ${S3RestFileSystem.MaxFullObjectBuffer} " +
          "in one response (Range-ignoring endpoint shipping a whole object?)")
      val bytes = readAll(if (code >= 400) c.getErrorStream else c.getInputStream)
      HttpResp(code, bytes, advertised, c.getLastModified,
        Option(c.getHeaderField("ETag")).getOrElse(""))
    } finally c.disconnect()
  }

  private def fail(op: String, what: String, r: HttpResp): Nothing =
    throw new IOException(
      s"s3r $op $what -> HTTP ${r.code}: ${new String(r.body.take(300), "UTF-8")}")

  // ---- status / list ---------------------------------------------------

  private def fileStatus(key: String, len: Long, mtime: Long, isDir: Boolean): FileStatus =
    new FileStatus(len, isDir, 1, 32L * 1024 * 1024, mtime,
      makeQualified(pathOf(if (isDir) key.stripSuffix("/") else key)))

  /** HEAD: 200 -> Some(resp), 404 -> None (definitively absent), anything
    * else -> IOException. Mapping a 403/503/301 to "absent" would be
    * catastrophic downstream: ZarrIO's commit protocol treats a false
    * rename as "another attempt already committed" and DELETES the tmp —
    * a throttling blip must surface as an error, never as not-found. */
  private def headOrAbsent(encPath: String, what: String): Option[HttpResp] = {
    val h = http("HEAD", encPath)
    if (h.code == 200) Some(h)
    else if (h.code == 404) None
    else fail("HEAD", what, h)
  }

  override def getFileStatus(f: Path): FileStatus = {
    val key = keyOf(f)
    if (key.isEmpty) return fileStatus("", 0, 0, isDir = true) // bucket root
    headOrAbsent(s"$bucket/${encodeKey(key)}", key).foreach { h =>
      return fileStatus(key, math.max(0L, h.contentLength), h.lastModified, isDir = false)
    }
    // a directory: marker object `key/`, or any object under the prefix
    headOrAbsent(s"$bucket/${encodeKey(key)}/", key + "/").foreach { m =>
      return fileStatus(key, 0, m.lastModified, isDir = true)
    }
    val (entries, _, _) = listPage(key + "/", delimiter = None, maxKeys = 1, token = None)
    if (entries.nonEmpty) return fileStatus(key, 0, 0, isDir = true)
    throw new FileNotFoundException(s"s3r://$bucket/$key")
  }

  /** One `list-type=2` page: (contents (key, size, mtime), commonPrefixes,
    * nextContinuationToken). */
  private def listPage(prefix: String, delimiter: Option[String], maxKeys: Int,
                       token: Option[String]): (Seq[(String, Long, Long)], Seq[String], Option[String]) = {
    val params = Seq("list-type" -> "2", "max-keys" -> maxKeys.toString,
        "prefix" -> prefix) ++
      delimiter.map("delimiter" -> _) ++
      token.map("continuation-token" -> _)
    val r = http("GET", bucket, params)
    if (r.code != 200) fail("LIST", s"prefix=$prefix", r)
    val xml = scala.xml.XML.loadString(new String(r.body, "UTF-8"))
    val contents = (xml \ "Contents").map { c =>
      val mtime =
        try java.time.OffsetDateTime.parse((c \ "LastModified").text).toInstant.toEpochMilli
        catch { case _: Throwable => 0L }
      ((c \ "Key").text, (c \ "Size").text.toLong, mtime)
    }
    val prefixes = (xml \ "CommonPrefixes" \ "Prefix").map(_.text)
    val next =
      if ((xml \ "IsTruncated").text == "true") Some((xml \ "NextContinuationToken").text).filter(_.nonEmpty)
      else None
    (contents, prefixes, next)
  }

  /** All pages under a prefix (no delimiter): every object key below it. */
  private def listAll(prefix: String): Seq[(String, Long, Long)] = {
    val out = Seq.newBuilder[(String, Long, Long)]
    var token: Option[String] = None
    var more = true
    while (more) {
      val (c, _, next) = listPage(prefix, None, listMaxKeys, token)
      out ++= c
      token = next
      more = next.isDefined
    }
    out.result()
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val st = getFileStatus(f) // throws FileNotFoundException per contract
    if (!st.isDirectory) return Array(st)
    val key = keyOf(f)
    val prefix = if (key.isEmpty) "" else key + "/"
    val files = Seq.newBuilder[FileStatus]
    val dirs = scala.collection.mutable.LinkedHashSet.empty[String]
    var token: Option[String] = None
    var more = true
    while (more) {
      val (contents, prefixes, next) = listPage(prefix, Some("/"), listMaxKeys, token)
      contents.foreach { case (k, size, mtime) =>
        if (k != prefix && !k.endsWith("/")) files += fileStatus(k, size, mtime, isDir = false)
        else if (k != prefix) dirs += k // zero-byte `sub/` marker with no children
      }
      prefixes.foreach(dirs += _)
      token = next
      more = next.isDefined
    }
    (files.result() ++ dirs.toSeq.map(d => fileStatus(d, 0, 0, isDir = true))).toArray
  }

  // ---- read ------------------------------------------------------------

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val st = getFileStatus(f)
    if (st.isDirectory) throw new FileNotFoundException(s"is a directory: $f")
    new FSDataInputStream(new S3rInputStream(keyOf(f), st.getLen,
      math.max(bufferSize, 1 << 20)))
  }

  /** Seekable ranged-GET stream: fetches a bounded window per miss, so a
    * whole-object read costs O(len/window) requests and a small seeked
    * read (DSv2 footer probes) fetches only its window. */
  private final class S3rInputStream(key: String, len: Long, window: Int)
      extends FSInputStream {
    private var pos = 0L
    private var buf: Array[Byte] = Array.emptyByteArray
    private var bufStart = 0L

    private def fill(at: Long): Unit = {
      val end = math.min(len, at + window) - 1
      val r = http("GET", s"$bucket/${encodeKey(key)}",
        headers = Seq("Range" -> s"bytes=$at-$end"))
      // 206 = ranged slice starting at `at`. A 200 means the endpoint
      // IGNORED the Range header and sent the whole object — only
      // equivalent when at == 0; treating a full-object body as a slice
      // at a nonzero offset would return bytes from the wrong position
      // as if they were correct (silent corruption, not an error).
      if (r.code != 206 && !(r.code == 200 && at == 0L))
        fail("GET", s"$key [$at-$end] (endpoint ignored Range?)", r)
      // a 200 at offset 0 buffers the WHOLE object (the endpoint ignored
      // the Range header) — acceptable for small objects, but an
      // unbounded allocation for large ones: cap it instead of OOMing
      if (r.code == 200 && len > S3RestFileSystem.MaxFullObjectBuffer)
        throw new IOException(
          s"s3r GET $key: endpoint ignored the Range header (HTTP 200) and the " +
          s"object is $len bytes — refusing to buffer more than " +
          s"${S3RestFileSystem.MaxFullObjectBuffer} bytes in one response; " +
          "use a Range-capable endpoint for large objects")
      // an empty body with bytes still owed would make read() return 0
      // forever (readFully spins, never errors) — fail loudly instead
      if (r.body.isEmpty && at < len)
        throw new IOException(
          s"s3r GET $key [$at-$end] -> HTTP ${r.code} with an EMPTY body " +
          s"(expected up to ${end - at + 1} bytes of $len)")
      buf = r.body
      bufStart = at
    }

    override def read(): Int = {
      if (pos >= len) return -1
      if (pos < bufStart || pos >= bufStart + buf.length) fill(pos)
      val b = buf((pos - bufStart).toInt) & 0xFF
      pos += 1
      b
    }

    override def read(b: Array[Byte], off: Int, l: Int): Int = {
      if (pos >= len) return -1
      if (pos < bufStart || pos >= bufStart + buf.length) fill(pos)
      val avail = (bufStart + buf.length - pos).toInt
      val n = math.min(avail, l)
      System.arraycopy(buf, (pos - bufStart).toInt, b, off, n)
      pos += n
      n
    }

    override def seek(p: Long): Unit = {
      if (p < 0 || p > len) throw new IOException(s"seek $p out of [0,$len]")
      pos = p
    }
    override def getPos: Long = pos
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def close(): Unit = { buf = Array.emptyByteArray }
  }

  // ---- write -----------------------------------------------------------

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val key = keyOf(f)
    require(key.nonEmpty, "cannot create the bucket root")
    if (!overwrite && exists(f))
      throw new FileAlreadyExistsException(s"s3r://$bucket/$key already exists")
    new FSDataOutputStream(new S3rOutputStream(key), statistics)
  }

  /** Part-buffered upload sink: at most one part in memory. Objects that
    * fit in one part close as a single atomic PUT (the Zarr chunk fast
    * path); the first overflow initiates a multipart upload, each full
    * part ships immediately, and close() completes with the ETag
    * manifest (aborting the upload on any part/complete failure so no
    * half-assembled object is ever left billed-but-invisible). */
  private final class S3rOutputStream(key: String) extends OutputStream {
    private val target = s"$bucket/${encodeKey(key)}"
    private val buffer = new ByteArrayOutputStream(math.min(partSize, 1 << 20))
    private var uploadId: String = null
    private val etags = Seq.newBuilder[String]
    private var nParts = 0
    private var closed = false

    override def write(b: Int): Unit = { buffer.write(b); spill() }
    override def write(b: Array[Byte], off: Int, l: Int): Unit = {
      // chunked copy-in so the buffer never exceeds one part even for
      // writes larger than partSize
      var o = off
      var left = l
      while (left > 0) {
        val n = math.min(left, partSize - buffer.size())
        buffer.write(b, o, n)
        o += n; left -= n
        spill()
      }
    }

    private def spill(): Unit = if (buffer.size() >= partSize) shipPart()

    private def shipPart(): Unit = {
      if (uploadId == null) {
        val r = http("POST", target, Seq("uploads" -> ""), body = Array.emptyByteArray)
        if (r.code != 200) fail("MPU-INITIATE", key, r)
        uploadId = (scala.xml.XML.loadString(new String(r.body, "UTF-8")) \ "UploadId").text
        require(uploadId.nonEmpty, s"s3r MPU initiate returned no UploadId for $key")
      }
      nParts += 1
      val r = http("PUT", target,
        Seq("partNumber" -> nParts.toString, "uploadId" -> uploadId),
        body = buffer.toByteArray)
      if (r.code != 200) { abort(); fail("MPU-PART", s"$key part $nParts", r) }
      etags += r.etag
      buffer.reset()
    }

    /** Abort the upload AND poison the stream: a part failure already
      * propagated the real exception from write(), and the caller's
      * `finally out.close()` must become a no-op — shipping the buffered
      * tail / completing against the aborted uploadId would throw
      * NoSuchUpload from the finally block and MASK the real failure. */
    private def abort(): Unit = {
      closed = true
      if (uploadId != null) http("DELETE", target, Seq("uploadId" -> uploadId))
    }

    override def close(): Unit = {
      if (closed) return
      closed = true
      if (uploadId == null) {
        // never overflowed: one atomic PUT (complete-on-visibility)
        val r = http("PUT", target, body = buffer.toByteArray)
        if (r.code != 200) fail("PUT", key, r)
      } else {
        if (buffer.size() > 0) shipPart()
        val manifest = etags.result().zipWithIndex.map { case (e, i) =>
          s"<Part><PartNumber>${i + 1}</PartNumber><ETag>$e</ETag></Part>"
        }.mkString("<CompleteMultipartUpload>", "", "</CompleteMultipartUpload>")
        // CompleteMultipartUpload is the one S3 call documented to return
        // 200 OK with an <Error> body (e.g. InternalError, a transient
        // AWS documents as retryable) — a status-code retry cannot see
        // it. The POST therefore goes through httpOnce (single attempt)
        // and ONE loop here owns the whole retry budget across BOTH
        // failure shapes (retryable status/transport AND 200-with-error-
        // body): re-POST the same manifest (idempotent — same uploadId +
        // same parts) with the shared jittered backoff, at most
        // retryLimit extra attempts TOTAL (routing through http() would
        // multiply to (retryLimit+1)^2 attempts with stacked backoffs),
        // and only ABORT (which irrevocably deletes the parts) once the
        // budget is exhausted or the failure is a non-retryable answer.
        // Success bodies vary by implementation (AWS: ...Result, moto:
        // ...Response), so the trigger is the ERROR shape, not a success
        // match.
        var attempt = 0
        var done = false
        while (!done) {
          val postBody = manifest.getBytes("UTF-8")
          val outcome: Either[IOException, HttpResp] =
            try Right(httpOnce("POST", target, Seq("uploadId" -> uploadId), postBody, Nil))
            catch {
              case e: S3RestFileSystem.NonRetryableIOException => abort(); throw e
              case e: IOException => Left(e)
            }
          val failure: Option[String] = outcome match {
            case Right(r) if r.code == 200 =>
              val bodyText = new String(r.body, "UTF-8")
              if (bodyText.contains("<Error"))
                Some(s"HTTP 200 with an error body: ${bodyText.take(300)}")
              else { done = true; None }
            case Right(r) if S3RestFileSystem.retryableStatus(r.code) =>
              Some(s"HTTP ${r.code}: ${new String(r.body.take(300), "UTF-8")}")
            case Right(r) => abort(); fail("MPU-COMPLETE", key, r)
            case Left(e) => Some(s"transport failure: ${e.getMessage}")
          }
          failure.foreach { why =>
            if (attempt >= retryLimit) {
              abort()
              throw new IOException(
                s"s3r MPU-COMPLETE $key failed after ${attempt + 1} attempts — $why")
            }
            backoff(attempt)
            attempt += 1
          }
        }
      }
    }
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("s3r does not support append")

  // ---- rename / delete / mkdirs ---------------------------------------

  private def copyObject(srcKey: String, dstKey: String): Unit = {
    val r = http("PUT", s"$bucket/${encodeKey(dstKey)}",
      headers = Seq("x-amz-copy-source" -> s"/$bucket/${encodeKey(srcKey)}"))
    if (r.code != 200) fail("COPY", s"$srcKey -> $dstKey", r)
  }

  /** Atomic create-if-absent via S3 conditional write (`PUT` with
    * `If-None-Match: *` — 412 PreconditionFailed when the key exists;
    * public AWS S3 API, honored by moto ≥5). The commit primitive
    * [[graft.queries.Materialized]] uses for pointer commits on
    * object-store roots, where `rename` (copy+delete) cannot commit
    * atomically. The header rides UNSIGNED: SigV4 only verifies the
    * SignedHeaders set (host + x-amz-*), and conditional evaluation is
    * orthogonal to auth.
    *
    * 412 is ambiguous under retry — a transport failure AFTER the
    * server applied OUR put makes the retry attempt read 412 against
    * our own object (AWS documents this exact hazard for conditional
    * writes). The body is writer-unique by the caller's contract, so a
    * read-back disambiguates: byte-equal existing object = we won. */
  override def createIfAbsent(f: Path, body: Array[Byte]): Boolean = {
    val key = keyOf(f)
    val r = http("PUT", s"$bucket/${encodeKey(key)}", body = body,
      headers = Seq("If-None-Match" -> "*"))
    if (r.code == 200) true
    else if (r.code == 412) {
      val existing =
        try {
          val in = open(f, 4096)
          try readAll(in) finally in.close()
        } catch { case _: IOException => null }
      existing != null && java.util.Arrays.equals(existing, body)
    } else fail("PUT(If-None-Match)", key, r)
  }

  private def deleteObject(key: String): Unit = {
    val r = http("DELETE", s"$bucket/${encodeKey(key)}")
    if (r.code != 204 && r.code != 200 && r.code != 404) fail("DELETE", key, r)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val srcStatus =
      try getFileStatus(src)
      catch { case _: FileNotFoundException => return false }
    // the bucket root is not a renamable object (keyOf("") + "/" would
    // list the prefix "/" and silently match nothing) — refuse, like s3a
    if (keyOf(src).isEmpty) return false
    var dstKey = keyOf(dst)
    try {
      val d = getFileStatus(dst)
      if (d.isDirectory) {
        // HDFS contract: rename into an existing directory
        dstKey = (if (dstKey.isEmpty) "" else dstKey + "/") + src.getName
        if (exists(pathOf(dstKey))) return false
      } else return false // destination file exists: refuse, like HDFS
    } catch { case _: FileNotFoundException => () }
    val srcKey = keyOf(src)
    if (srcKey == dstKey) return true
    if (!srcStatus.isDirectory) {
      copyObject(srcKey, dstKey)
      deleteObject(srcKey)
    } else {
      listAll(srcKey + "/").foreach { case (k, _, _) =>
        copyObject(k, dstKey + "/" + k.stripPrefix(srcKey + "/"))
        deleteObject(k)
      }
      deleteObject(srcKey + "/") // the marker, if any
    }
    true
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val st =
      try getFileStatus(f)
      catch { case _: FileNotFoundException => return false }
    val key = keyOf(f)
    if (!st.isDirectory) { deleteObject(key); return true }
    // the bucket root's child prefix is "" (key + "/" would be the
    // never-matching prefix "/", turning root deletion into a silent
    // no-op that still returns true) — mirror listStatus's special case
    val prefix = if (key.isEmpty) "" else key + "/"
    val children = listAll(prefix)
    // the directory's own mkdirs marker (`key/`) matches its own prefix —
    // it is not a child; counting it would make non-recursive delete of
    // an EMPTY directory throw, violating the HDFS contract
    val real = children.filterNot(_._1 == prefix)
    if (real.nonEmpty && !recursive)
      throw new IOException(s"directory s3r://$bucket/$key is not empty")
    real.foreach { case (k, _, _) => deleteObject(k) }
    if (key.nonEmpty) deleteObject(key + "/")
    true
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    val key = keyOf(f)
    if (key.isEmpty) return true
    try {
      val st = getFileStatus(f)
      if (!st.isDirectory)
        throw new FileAlreadyExistsException(s"file exists at s3r://$bucket/$key")
      true
    } catch {
      case _: FileNotFoundException =>
        val r = http("PUT", s"$bucket/${encodeKey(key)}/", body = Array.emptyByteArray)
        if (r.code != 200) fail("PUT", s"$key/ (mkdir marker)", r)
        true
    }
  }
}

/** The pure SigV4 core, factored out of the instance so it can be
  * differential-tested: `S3SigV4VectorsSpec` signs generated request
  * shapes with this function AND with botocore's own `SigV4Auth` (the
  * implementation AWS ships in every SDK and moto verifies with) and
  * asserts byte-identical `Authorization` headers — the STRICT
  * canonical form, independent of any WSGI front-end normalization. */
object S3RestFileSystem {

  /** Largest whole-object response accepted from an endpoint that
    * ignores Range headers (HTTP 200 for a ranged GET at offset 0).
    * Beyond this, buffering the full object is an OOM risk and the
    * stream fails loudly instead — enforced from the advertised
    * Content-Length BEFORE the body is read (httpOnce) when one is
    * advertised, and by a streaming byte count inside readAll otherwise
    * (chunked transfer encoding advertises -1), so the refusal prevents
    * the allocation in both response shapes. */
  private[s3] val MaxFullObjectBuffer: Long = 256L * 1024 * 1024

  /** The s3a/AWS-SDK retryable-status set: throttles (429/503) and
    * transient shedding (500/502/504). 4xx other than 429 are answers,
    * not weather. */
  private[s3] def retryableStatus(code: Int): Boolean =
    code == 429 || code == 500 || code == 502 || code == 503 || code == 504

  /** An IOException the retry loop must NOT retry: a deterministic
    * refusal, not transport weather. */
  private[s3] final class NonRetryableIOException(msg: String) extends IOException(msg)

  /** Object-key encoding: strict RFC 3986 per path segment, '/'
    * separators preserved. The SAME bytes go on the wire and into the
    * signed canonical URI, and — unlike form encoding (URLEncoder) —
    * they also match what a server that decodes-then-re-canonicalizes
    * (Werkzeug front-ends, AWS's own strict path re-encoding) will
    * reproduce: '~' stays raw (unreserved), '*' and '(' are encoded.
    * Differential-covered in S3SigV4VectorsSpec with a hostile-key case. */
  private[s3] def encodeKey(key: String): String =
    key.split("/", -1).map(rfc3986).mkString("/")

  /** Strict RFC 3986 percent-encoding (SigV4 canonical form): everything
    * but unreserved characters, uppercase hex, space as %20 never '+'. */
  private[s3] def rfc3986(s: String): String = {
    val sb = new StringBuilder
    s.getBytes("UTF-8").foreach { b =>
      val ch = (b & 0xFF).toChar
      if ((ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z') ||
          (ch >= '0' && ch <= '9') || ch == '-' || ch == '.' || ch == '_' || ch == '~')
        sb.append(ch)
      else sb.append(f"%%${b & 0xFF}%02X")
    }
    sb.toString
  }

  /** Canonical (and wire) query string from RAW param pairs: strict RFC
    * 3986 canonical by default (what AWS reproduces server-side);
    * wsgi-compat keeps '/' and ':' raw in values (what a
    * Werkzeug-normalizing endpoint reproduces) — see the class doc. */
  private[s3] def canonicalQuery(params: Seq[(String, String)],
                                 wsgiCompat: Boolean): String = {
    def encV(v: String): String =
      if (!wsgiCompat) rfc3986(v)
      else rfc3986(v).replace("%2F", "/").replace("%3A", ":")
    params.map { case (k, v) => (rfc3986(k), encV(v)) }
      .sorted.map { case (k, v) => s"$k=$v" }.mkString("&")
  }

  private[s3] def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xFF}%02x").mkString

  private[s3] def hmac(key: Array[Byte], data: String): Array[Byte] = {
    val m = javax.crypto.Mac.getInstance("HmacSHA256")
    m.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    m.doFinal(data.getBytes("UTF-8"))
  }

  /** Sign one request: returns the headers to attach (x-amz-date,
    * x-amz-content-sha256, Authorization). Pure — everything that varies
    * per call site or per clock tick is a parameter. */
  private[s3] def signV4(method: String, canonicalUri: String, canonicalQuery: String,
                         body: Array[Byte], extraHeaders: Seq[(String, String)],
                         amzDate: String, host: String,
                         accessKey: String, secretKey: String,
                         region: String): Seq[(String, String)] = {
    val payloadHash = sha256Hex(if (body == null) Array.emptyByteArray else body)
    val dateStamp = amzDate.take(8)
    // sign host + the x-amz-* headers (SigV4 requires every x-amz-*
    // request header to be signed; Range etc. may stay unsigned)
    val toSign = (Seq("host" -> host, "x-amz-content-sha256" -> payloadHash,
        "x-amz-date" -> amzDate) ++
        extraHeaders.filter(_._1.toLowerCase.startsWith("x-amz-"))
          .map { case (k, v) => (k.toLowerCase, v.trim) })
      .sortBy(_._1)
    val canonicalHeaders = toSign.map { case (k, v) => s"$k:$v\n" }.mkString
    val signedHeaders = toSign.map(_._1).mkString(";")
    val canonicalRequest = Seq(method, canonicalUri, canonicalQuery,
      canonicalHeaders, signedHeaders, payloadHash).mkString("\n")
    val scope = s"$dateStamp/$region/s3/aws4_request"
    val stringToSign = Seq("AWS4-HMAC-SHA256", amzDate, scope,
      sha256Hex(canonicalRequest.getBytes("UTF-8"))).mkString("\n")
    val kSigning = hmac(hmac(hmac(hmac(("AWS4" + secretKey).getBytes("UTF-8"),
      dateStamp), region), "s3"), "aws4_request")
    val signature = hmac(kSigning, stringToSign).map(x => f"${x & 0xFF}%02x").mkString
    Seq("x-amz-date" -> amzDate,
        "x-amz-content-sha256" -> payloadHash,
        "Authorization" -> (s"AWS4-HMAC-SHA256 Credential=$accessKey/$scope, " +
          s"SignedHeaders=$signedHeaders, Signature=$signature"))
  }
}
