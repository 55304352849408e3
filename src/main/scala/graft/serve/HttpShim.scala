package graft.serve

import java.io.InputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** S13 + §2.12 — the reference's REST contract (api.py:71-218) as a thin
  * JDK `com.sun.net.httpserver` adapter over [[DocumentStore]]. Zero
  * dependencies beyond the JDK; every route delegates to the engine's
  * serving read paths and renders rows with Spark's own `toJSON`, so the
  * query semantics live in exactly one place.
  *
  * Routes (api.py line refs):
  *   - `POST /documents/upload`                  (:71) — `multipart/
  *     form-data` body (the reference's `UploadFile` contract, parsed by
  *     [[Multipart]]); the file part's bytes land in the watch directory
  *     feeding the S1 streaming ingest, and the response carries the
  *     reference's exact fields (`message`/`filename`/`status`,
  *     api.py:79-84). A raw body + `filename` query param is kept as a
  *     compatibility fallback for non-multipart clients.
  *   - `GET /documents?skip=&limit=`             (:87)
  *   - `GET /documents/{id}`                     (:106)
  *   - `GET /documents/{id}/chunks?start_chunk=&end_chunk=` (:149)
  *   - `GET /documents/{id}/charts`              (:174)
  *   - `GET /documents/{id}/charts/{chartId}`    (:197) — PNG bytes with
  *     the stored content type.
  *   - `GET /ops/tables/{table}` — [EXT] the table's operational report
  *     (file/byte counts, small-file tail, partition dirs, manifest
  *     coverage, lease state, swap debris); metadata-only upstream, so
  *     it is the endpoint a corpus dashboard polls.
  *   - `GET /ops/tables` — [EXT] every table's report in one response
  *     (mid-swap-absent tables included via their debris names), from
  *     ONE shared root walk — O(1) listings per poll, not O(tables).
  *
  * Malformed numeric query params return 422 with a FastAPI-shaped
  * validation body (the same contract the reference's framework emits for
  * a bad path/query type), never a 500; uploads larger than
  * `maxUploadBytes` return 413. NEITHER upload path buffers the body in
  * driver heap: the raw fallback streams to the staging file, and the
  * multipart path spools to a temp file and boundary-scans a read-only
  * memory-mapped view (page cache, not heap) — per-request heap cost is
  * one 8 KiB copy buffer, so the pool-wide bound is threads × 8 KiB, not
  * threads × maxUploadBytes.
  *
  * Serving scale note: every handler collects a POINT-SHAPED or
  * paginated result (one document, one chart, one bounded page) — the
  * same bounded reads the reference's ORM session does — never a corpus
  * scan. The driver is the serving node; a production deployment would
  * put this behind the usual replica fan-out, which is out of engine
  * scope.
  */
final class HttpShim(store: DocumentStore, uploadDir: String, port: Int = 0,
                     maxUploadBytes: Long = HttpShim.DefaultMaxUploadBytes) {

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  // without an executor every request runs on the single dispatcher
  // thread — one slow Spark read would stall uploads and every other
  // route; a small pool serves them concurrently (Spark sessions are
  // thread-safe; the staging-file names are per-request unique)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)

  /** Start serving; returns the bound port (ephemeral when `port` = 0). */
  def start(): Int = {
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
  }

  // ---- routing ---------------------------------------------------------

  private def handle(ex: HttpExchange): Unit =
    try route(ex)
    catch {
      case e: Exception =>
        send(ex, 500, "application/json",
          s"""{"detail":${jsonStr(e.getMessage)}}"""
            .getBytes(StandardCharsets.UTF_8))
    } finally ex.close()

  private def route(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
    val query = parseQuery(Option(ex.getRequestURI.getRawQuery))
    (method, segs) match {
      case ("POST", List("documents", "upload")) =>
        upload(ex, query)
      // [EXT] batch hydrate: ?ids=1,2,3 returns the named documents via
      // the point-set pruned read (O(k) planned files on a clustered
      // table); absent ids are simply absent from the result, the same
      // contract as the per-id 404 spread across a batch. Bounded at
      // 1024 ids (the URL is the wrong transport past that), and not
      // combinable with the pagination params.
      case ("GET", List("documents")) if query.contains("ids") =>
        val raw = query("ids").split(",").map(_.trim).filter(_.nonEmpty)
        if (raw.isEmpty || raw.exists(_.toLongOption.isEmpty))
          validationGate[Int](ex, List(Left(
            "ids" -> "value is not a valid integer list")))(_ => ())
        else if (raw.length > 1024)
          validationGate[Int](ex, List(Left(
            "ids" -> "at most 1024 ids per request")))(_ => ())
        else if (query.contains("skip") || query.contains("after_id") ||
                 query.contains("limit"))
          validationGate[Int](ex, List(Left(
            "ids" -> "cannot be combined with pagination params")))(_ => ())
        else jsonArray(ex, store.getDocuments(raw.map(_.toLong).toSeq))
      // [EXT] keyset pagination: ?after_id anchors on the last seen id —
      // a pruned tail read + top-k instead of OFFSET's whole-table
      // top-(skip+limit); the deep-pagination scale path. skip is
      // rejected alongside it (mixing both silently ignores one).
      case ("GET", List("documents")) if query.contains("after_id") =>
        (query("after_id").toLongOption, query.contains("skip")) match {
          case (None, _) =>
            validationGate[Int](ex, List(Left(
              "after_id" -> "value is not a valid integer")))(_ => ())
          case (_, true) =>
            validationGate[Int](ex, List(Left(
              "after_id" -> "cannot be combined with skip")))(_ => ())
          case (Some(a), false) =>
            withInts(ex, query, List(("limit", 100, Some(0)))) {
              case List(limit) =>
                jsonArray(ex, store.listDocumentsAfter(a, limit))
              case other => sys.error(s"internal: expected 1 param, got $other")
            }
        }
      case ("GET", List("documents")) =>
        withInts(ex, query, List(("skip", 0, Some(0)), ("limit", 100, Some(0)))) {
          case List(skip, limit) =>
            jsonArray(ex, store.listDocuments(skip = skip, limit = limit))
          case other => sys.error(s"internal: expected 2 params, got $other")
        }
      case ("GET", List("documents", AsLong(id))) =>
        store.getDocument(id).toJSON.collect().headOption match {
          case Some(doc) => send(ex, 200, "application/json",
            doc.getBytes(StandardCharsets.UTF_8))
          case None => notFound(ex, "Document not found")
        }
      case ("GET", List("documents", AsLong(id), "chunks")) =>
        // bounds pass through VERBATIM (absent stays None): the reference
        // applies `chunk_index >= start` / `<= end` as given, so e.g.
        // end_chunk=-1 means an EMPTY range, not "no bound"
        withOptInts(ex, query, List("start_chunk", "end_chunk")) {
          case List(start, end) =>
            // existence guard before returning children (api.py:110-112),
            // answered by the same job as the read
            childrenOrNotFound(ex, store.getChunksJson(id, start, end))
          case other => sys.error(s"internal: expected 2 params, got $other")
        }
      case ("GET", List("documents", AsLong(id), "charts")) =>
        childrenOrNotFound(ex, store.getChartsJson(id))
      case ("GET", List("documents", AsLong(id), "charts", AsLong(chartId))) =>
        store.getChartWithImage(id, chartId) match {
          case Some((_, bytes, contentType)) =>
            send(ex, 200, contentType, bytes)
          case None => notFound(ex, "Chart not found") // wrong owner too
        }
      // [EXT] ops surface: one table's operational report — file/byte
      // counts, small-file tail, partition dirs, manifest coverage,
      // lease state, swap debris. Metadata-only upstream (no Spark job),
      // so an operator dashboard can poll it freely. 404s on a table
      // that does not exist, has no swap debris, and holds no LIVE
      // lease: a mid-swap-absent table still reports (exactly when an
      // operator most needs it), and so does one being created under a
      // live pre-table lease — but an EXPIRED lease on a never-created
      // name (a crashed creator, a typo'd stream target) must not make
      // the name answer 200-with-zeros forever.
      // a path-shaped "table name" (dot-dot, hidden/internal prefixes)
      // must not address anything outside the store's table namespace —
      // ".." would make the report list the PARENT directory
      case ("GET", List("ops", "tables", t))
          if t.isEmpty || t.contains("..") || t.startsWith(".") ||
            t.startsWith("_") =>
        notFound(ex, "Table not found")
      case ("GET", List("ops", "tables", t)) =>
        val r = store.tableReport(t)
        if (!r.swapDebris && !r.leaseState.startsWith("live") &&
            !store.tableExists(t))
          notFound(ex, "Table not found")
        else send(ex, 200, "application/json",
          reportJson(r).getBytes(StandardCharsets.UTF_8))
      // [EXT] the ops INDEX: every table's report in one response — the
      // dashboard's single poll. Upstream: ONE recursive root walk
      // shared across every table (storageReportAll) instead of one
      // listing per table — O(1) listings per poll however many tables
      // the store holds; mid-swap-absent tables are included (their
      // names recover from the swap debris in the same walk).
      case ("GET", List("ops", "tables")) =>
        val body = store.storageReportAll()
          .map(reportJson(_)).mkString("[", ",", "]")
        send(ex, 200, "application/json",
          body.getBytes(StandardCharsets.UTF_8))
      // FastAPI validates path param TYPES before routing: a non-integer
      // id is a 422 validation error, not a 404 (api.py:106,149,174,197)
      case ("GET", List("documents", AsLong(_), "charts", bad))
          if bad.toLongOption.isEmpty =>
        pathTypeError(ex, "chart_id")
      case ("GET", "documents" :: bad :: _)
          if bad.toLongOption.isEmpty && bad != "upload" =>
        pathTypeError(ex, "document_id")
      case _ => notFound(ex, "Not found")
    }
  }

  private def reportJson(r: graft.store.TableReport): String =
    s"""{"table":${jsonStr(r.table)},"files":${r.files},""" +
      s""""bytes":${r.bytes},"small_files":${r.smallFiles},""" +
      s""""partition_dirs":${r.partitionDirs},""" +
      s""""stats_cols":${jsonStr(r.statsCols)},""" +
      s""""manifest_covered":${r.manifestCovered},""" +
      s""""lease_state":${jsonStr(r.leaseState)},""" +
      s""""swap_debris":${r.swapDebris}}"""

  private def pathTypeError(ex: HttpExchange, name: String): Unit =
    send(ex, 422, "application/json",
      (s"""{"detail":[{"loc":["path",${jsonStr(name)}],""" +
        """"msg":"value is not a valid integer"}]}""")
        .getBytes(StandardCharsets.UTF_8))

  // ---- upload ----------------------------------------------------------

  private def upload(ex: HttpExchange, query: Map[String, String]): Unit = {
    val contentType =
      Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    if (contentType.toLowerCase.startsWith("multipart/form-data")) {
      Multipart.boundaryOf(contentType) match {
        case None =>
          badRequest(ex, "multipart/form-data boundary parameter missing")
        case Some(boundary) =>
          // spool the body to disk FIRST (8 KiB heap regardless of body
          // size), then boundary-scan a read-only mapped view — the whole
          // request never lands in driver heap, so N concurrent uploads
          // cost N×8 KiB, not N×maxUploadBytes
          val spool = java.nio.file.Files.createTempFile("graft-upload-", ".spool")
          try {
            if (!copyBounded(ex.getRequestBody, spool)) tooLarge(ex)
            else {
              val ch = java.nio.channels.FileChannel.open(spool,
                java.nio.file.StandardOpenOption.READ)
              try {
                val mapped = ch.map(
                  java.nio.channels.FileChannel.MapMode.READ_ONLY, 0, ch.size())
                Multipart.firstFilePartRange(
                    new Multipart.BufferBytes(mapped), boundary) match {
                  case None =>
                    badRequest(ex, "no file part found in multipart body")
                  case Some(part) => saveUpload(ex, part.filename) { target =>
                    val out = java.nio.channels.FileChannel.open(target,
                      java.nio.file.StandardOpenOption.CREATE,
                      java.nio.file.StandardOpenOption.WRITE,
                      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
                    try {
                      var pos = part.from.toLong
                      val end = part.until.toLong
                      while (pos < end)
                        pos += ch.transferTo(pos, end - pos, out)
                    } finally out.close()
                  }
                }
              } finally ch.close()
            }
          } finally java.nio.file.Files.deleteIfExists(spool)
      }
    } else query.get("filename").filter(_.nonEmpty) match {
      // compatibility fallback: raw body + filename query param
      case None =>
        badRequest(ex,
          "multipart file part or filename query parameter required")
      case Some(name) => saveUpload(ex, name) { target =>
        if (!copyBounded(ex.getRequestBody, target))
          throw new HttpShim.BodyTooLarge
      }
    }
  }

  /** Confine `name` to its basename inside the watch directory, reject
    * names that resolve to no file at all, run `write` against a hidden
    * staging path, atomically move into place, and answer with the
    * reference's exact upload response fields (api.py:79-84).
    *
    * The staging hop matters because `uploadDir` IS the S1 watch
    * directory: a file written incrementally under its final name could
    * be listed — and parsed half-written — by a streaming trigger firing
    * mid-upload. The dot-prefixed temp name is invisible to the ingest
    * glob, and the rename is atomic within the directory.
    */
  private def saveUpload(ex: HttpExchange, name: String)
                        (write: java.nio.file.Path => Unit): Unit = {
    // basename only: a path-bearing filename must not escape the watch
    // dir; separator-only names ("/", "\\", "//") split to an EMPTY
    // array, so lastOption — a bare .last would throw and surface a 500
    // where this is a plain 400
    val base = name.split(Array('/', '\\')).lastOption.getOrElse("")
    if (base.isEmpty || base == "." || base == "..")
      badRequest(ex, s"invalid filename: ${name}")
    else {
      val dir = java.nio.file.Paths.get(uploadDir)
      java.nio.file.Files.createDirectories(dir)
      // per-request unique staging name: concurrent same-name uploads
      // must not write through each other's temp file
      val tmp = dir.resolve(s".$base.${System.nanoTime()}.uploading")
      try {
        write(tmp)
        // ATOMIC_MOVE alone: POSIX rename(2) replaces an existing target
        // atomically, and combining it with REPLACE_EXISTING is
        // implementation-specific
        java.nio.file.Files.move(tmp, dir.resolve(base),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        send(ex, 200, "application/json",
          (s"""{"message":"File uploaded successfully",""" +
            s""""filename":${jsonStr(base)},"status":"pending_processing"}""")
            .getBytes(StandardCharsets.UTF_8))
      } catch {
        case _: HttpShim.BodyTooLarge => tooLarge(ex)
      } finally {
        // no-op after a successful move; on ANY failure (cap, disk-full
        // IOException, move refusal) the staging file must not strand
        // bytes in the watch directory
        java.nio.file.Files.deleteIfExists(tmp)
      }
    }
  }

  /** Stream the body straight to `target` (never buffered in driver
    * memory); false if the cap was exceeded (partial file left to caller).
    */
  private def copyBounded(in: InputStream, target: java.nio.file.Path): Boolean = {
    val out = java.nio.file.Files.newOutputStream(target)
    try {
      val buf = new Array[Byte](8192)
      var total = 0L
      var n = in.read(buf)
      while (n >= 0) {
        total += n
        if (total > maxUploadBytes) return false
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      true
    } finally out.close()
  }

  // ---- helpers ---------------------------------------------------------

  private object AsLong {
    def unapply(s: String): Option[Long] = s.toLongOption
  }

  /** Parse the named int params (`(key, default, minimum)`), answering a
    * FastAPI-shaped 422 validation error (api.py's framework contract for
    * a malformed query type) instead of ever surfacing a 500.
    */
  private def withInts(ex: HttpExchange, query: Map[String, String],
                       params: List[(String, Int, Option[Int])])
                      (body: List[Int] => Unit): Unit = {
    val parsed = params.map { case (key, default, min) =>
      query.get(key) match {
        case None => Right(default)
        case Some(v) => v.toIntOption match {
          case Some(i) if min.forall(i >= _) => Right(i)
          case Some(_) => Left(key -> s"ensure this value is greater than or equal to ${min.get}")
          case None => Left(key -> "value is not a valid integer")
        }
      }
    }
    validationGate(ex, parsed)(body)
  }

  /** As [[withInts]] for OPTIONAL params: absent stays `None`, present
    * values (any sign) pass through verbatim after type validation.
    */
  private def withOptInts(ex: HttpExchange, query: Map[String, String],
                          keys: List[String])
                         (body: List[Option[Int]] => Unit): Unit = {
    val parsed = keys.map { key =>
      query.get(key) match {
        case None => Right(None)
        case Some(v) => v.toIntOption match {
          case Some(i) => Right(Some(i))
          case None => Left(key -> "value is not a valid integer")
        }
      }
    }
    validationGate(ex, parsed)(body)
  }

  private def validationGate[A](ex: HttpExchange,
                                parsed: List[Either[(String, String), A]])
                               (body: List[A] => Unit): Unit = {
    val errors = parsed.collect { case Left(e) => e }
    if (errors.nonEmpty) {
      val details = errors.map { case (key, msg) =>
        s"""{"loc":["query",${jsonStr(key)}],"msg":${jsonStr(msg)}}"""
      }.mkString("[", ",", "]")
      send(ex, 422, "application/json",
        s"""{"detail":$details}""".getBytes(StandardCharsets.UTF_8))
    } else body(parsed.collect { case Right(a) => a })
  }

  /** One document's child rows as a JSON array, or 404 when the document
    * does not exist. The rows are one document's, so they are buffered.
    */
  private def childrenOrNotFound(ex: HttpExchange, rows: Option[Seq[String]]): Unit =
    rows match {
      case None => notFound(ex, "Document not found")
      case Some(objs) => send(ex, 200, "application/json",
        objs.mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8))
    }

  /** Rows → one JSON array, streamed to the client chunked via Spark's
    * own row serialization: the driver holds ONE row's JSON at a time
    * (toLocalIterator fetches partition by partition), so even a
    * misconfigured page size cannot buffer a whole result set in heap.
    * Every caller is a paginated or single-document read regardless; the
    * chunked trade-off is that a mid-stream executor failure truncates
    * the response instead of mapping to a 5xx (headers are already out).
    */
  private def jsonArray(ex: HttpExchange, df: DataFrame): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, 0L) // 0 = chunked, length unknown up front
    val os = ex.getResponseBody
    try {
      os.write('[')
      val it = df.toJSON.toLocalIterator()
      var first = true
      while (it.hasNext) {
        if (!first) os.write(',')
        first = false
        os.write(it.next().getBytes(StandardCharsets.UTF_8))
      }
      os.write(']')
    } finally os.close()
  }

  private def notFound(ex: HttpExchange, detail: String): Unit =
    send(ex, 404, "application/json",
      s"""{"detail":${jsonStr(detail)}}""".getBytes(StandardCharsets.UTF_8))

  private def badRequest(ex: HttpExchange, detail: String): Unit =
    send(ex, 400, "application/json",
      s"""{"detail":${jsonStr(detail)}}""".getBytes(StandardCharsets.UTF_8))

  private def tooLarge(ex: HttpExchange): Unit =
    send(ex, 413, "application/json",
      s"""{"detail":"upload exceeds $maxUploadBytes bytes"}"""
        .getBytes(StandardCharsets.UTF_8))

  private def send(ex: HttpExchange, status: Int, contentType: String,
                   body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, body.length.toLong)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  }

  private def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    Option(s).getOrElse("").foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def parseQuery(raw: Option[String]): Map[String, String] =
    raw.getOrElse("").split('&').filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
}

object HttpShim {
  /** Default upload cap — generous for documents, small enough that a
    * hostile body cannot OOM the single-JVM serving node.
    */
  val DefaultMaxUploadBytes: Long = 256L * 1024 * 1024

  private final class BodyTooLarge extends RuntimeException
}

/** Minimal RFC 7578 `multipart/form-data` reader — just enough of the
  * grammar to accept what real HTTP clients (and the reference's FastAPI
  * test client) put on the wire for `POST /documents/upload`
  * (api.py:71-85): optional preamble, any number of parts delimited by
  * `--boundary` lines, a `--boundary--` close, optional epilogue. Returns
  * the RANGE of the first part whose `Content-Disposition` carries a
  * `filename` (FastAPI's `UploadFile` field) — the caller copies those
  * bytes with a channel transfer, so the payload is byte-preserved and
  * never materialized in heap. The scan reads through [[Bytes]], letting
  * the server hand in a memory-mapped spool file instead of an array.
  *
  * Cost note: the delimiter scan is a straightforward O(body × |boundary|)
  * byte search, bounded by the shim's body cap; the server binds loopback
  * only (HttpShim constructor), so a degenerate boundary/body pairing is a
  * local-client concern, not a remote DoS surface.
  */
private[serve] object Multipart {

  /** Random-access byte view — the one abstraction both an in-heap array
    * (tests) and a mapped spool file (server) satisfy. Mapped buffers cap
    * at 2 GiB, comfortably above the shim's upload cap.
    */
  sealed trait Bytes { def length: Int; def apply(i: Int): Byte }
  final class ArrayBytes(a: Array[Byte]) extends Bytes {
    def length: Int = a.length
    def apply(i: Int): Byte = a(i)
  }
  final class BufferBytes(b: java.nio.ByteBuffer) extends Bytes {
    def length: Int = b.limit()
    def apply(i: Int): Byte = b.get(i)
  }

  /** First file part's payload as byte offsets `[from, until)` into the
    * scanned body, plus its Content-Disposition attributes.
    */
  final case class PartRange(name: String, filename: String,
                             from: Int, until: Int)

  /** Extract the boundary parameter from a Content-Type header value. */
  def boundaryOf(contentType: String): Option[String] =
    contentType.split(';').map(_.trim).collectFirst {
      case p if p.toLowerCase.startsWith("boundary=") =>
        val raw = p.substring("boundary=".length)
        if (raw.length >= 2 && raw.startsWith("\"") && raw.endsWith("\""))
          raw.substring(1, raw.length - 1)
        else raw
    }.filter(_.nonEmpty)

  def firstFilePartRange(body: Bytes, boundary: String): Option[PartRange] = {
    val delim = ("--" + boundary).getBytes(StandardCharsets.ISO_8859_1)
    // A real delimiter line starts the body or follows a CRLF and is
    // terminated by optional transport padding (SP/HT) + CRLF, or by
    // "--" (the close delimiter) — RFC 2046 §5.1.1. BOTH conditions gate
    // the candidate list: a payload line that merely BEGINS with
    // "--boundary" (e.g. "--boundaryX...") is data, and treating it as a
    // boundary would silently truncate the part. Each candidate carries
    // the offset where the next part's headers start (past the padding
    // and CRLF), or -1 for the close delimiter.
    val candidates = occurrences(body, delim).flatMap { i =>
      val j = i + delim.length
      val atLineStart =
        i == 0 || (i >= 2 && body(i - 2) == '\r' && body(i - 1) == '\n')
      if (!atLineStart) None
      else if (j + 2 <= body.length && body(j) == '-' && body(j + 1) == '-')
        Some((i, -1))
      else {
        var k = j
        while (k < body.length && (body(k) == ' ' || body(k) == '\t')) k += 1
        if (k + 2 <= body.length && body(k) == '\r' && body(k + 1) == '\n')
          Some((i, k + 2))
        else None
      }
    }
    // Pair each delimiter with the next; a part spans its delimiter
    // line's end .. (CRLF + next delimiter)
    candidates.zip(candidates.drop(1)).iterator.flatMap {
      case ((_, partStart), (nextDelim, _)) =>
        if (partStart < 0) Iterator.empty // after the close delimiter
        else parsePart(body, partStart, nextDelim - 2)
    }.find(_.filename.nonEmpty)
  }

  /** One part: `headers CRLF CRLF payload`, payload = bytes [dataFrom,
    * dataUntil) with the header block carved off the front.
    */
  private def parsePart(body: Bytes, from: Int,
                        until: Int): Iterator[PartRange] = {
    if (until <= from) return Iterator.empty
    val headerEnd = indexOfFrom(body,
      "\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1), from, until)
    if (headerEnd < 0 || headerEnd + 4 > until) return Iterator.empty
    // header block is tiny (a few Content-* lines) — the only bytes this
    // scan ever copies into heap; ISO_8859_1 maps bytes to chars 1:1
    val headerBytes = new Array[Byte](headerEnd - from)
    var i = 0
    while (i < headerBytes.length) { headerBytes(i) = body(from + i); i += 1 }
    val headers = new String(headerBytes, StandardCharsets.ISO_8859_1)
    val disposition = headers.split("\r\n")
      .find(_.toLowerCase.startsWith("content-disposition:"))
      .getOrElse("")
    (attr(disposition, "filename"), attr(disposition, "name")) match {
      case (Some(filename), name) =>
        Iterator.single(PartRange(name.getOrElse(""), filename,
          headerEnd + 4, until))
      case _ => Iterator.empty
    }
  }

  /** `key="value"` (quoted, `\"` unescaped) or bare-token attribute of a
    * Content-Disposition header. The key is anchored at a parameter
    * boundary (start or `;`) so `name=` never matches inside `filename=`.
    */
  private def attr(header: String, key: String): Option[String] = {
    val quoted = ("(?:^|;\\s*)" + key + "=\"((?:[^\"\\\\]|\\\\.)*)\"").r
    val bare = ("(?:^|;\\s*)" + key + "=([^;\\s]+)").r
    quoted.findFirstMatchIn(header)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
      .orElse(bare.findFirstMatchIn(header).map(_.group(1)))
  }

  private def occurrences(haystack: Bytes,
                          needle: Array[Byte]): List[Int] = {
    val found = List.newBuilder[Int]
    var i = indexOfFrom(haystack, needle, 0, haystack.length)
    while (i >= 0) {
      found += i
      i = indexOfFrom(haystack, needle, i + needle.length, haystack.length)
    }
    found.result()
  }

  private def indexOfFrom(haystack: Bytes, needle: Array[Byte],
                          from: Int, until: Int): Int = {
    var i = from
    val last = until - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && haystack(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }
}
