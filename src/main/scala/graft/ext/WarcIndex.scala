package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] WARC record INDEX + seek-fetch — the random-access layer the
  * crawl-archive convention exists for. Shards gzip EACH RECORD as its
  * own member precisely so a consumer holding `(file, offset, length)`
  * can range-read one record from a multi-GB shard; Common Crawl ships
  * exactly such an index (the CDX(J) files) next to every crawl. At
  * 100 TB this is the difference between "scan every shard to hydrate
  * 10k sampled documents" and "issue 10k range reads".
  *
  * Three surfaces:
  *  - [[indexWarc]]: one streaming pass over each shard producing the
  *    per-record `(file, offset, length, ...)` table — member
  *    boundaries come from a gzip-member walk that verifies each
  *    member's CRC32 + ISIZE trailer (a torn member refuses; the loud
  *    [[Warc]] contract);
  *  - [[writeCdxj]]/[[readCdxj]]: the index serialized as CDXJ-style
  *    lines (`<SURT key> <timestamp> <JSON>` — the pywb/Common Crawl
  *    layout), sorted by the SURT key so external consumers can
  *    binary-search it;
  *  - [[fetchRecords]]/[[fetchResponses]]: hydrate an index subset —
  *    rows group by file, offsets sort ascending, ONE open + forward
  *    seeks per (file, task) — reading exactly `length` bytes per
  *    record, never the shard.
  *
  * Scale story: indexing is the same one-task-per-shard streaming pass
  * as [[Warc.readWarc]] (one member in memory at a time); fetch moves
  * `Σ length` bytes for the selected rows only, with seek locality from
  * the per-file ascending-offset sort; the CDXJ sort is one range
  * exchange over index rows (~100 bytes each — 100 TB of WARC indexes
  * to ~100 GB of CDXJ, a small frame by corpus standards).
  */
object WarcIndex {

  /** One indexed member: `offset`/`length` bound the COMPRESSED gzip
    * member inside the shard; `record` is its decoded WARC record.
    */
  final case class IndexedRecord(offset: Long, length: Long,
                                 record: Warc.WarcRecord)

  // ---------------------------------------------------------------------
  // Gzip member walk (RFC 1952) with exact byte accounting
  // ---------------------------------------------------------------------

  /** Iterate the gzip members of `in` as (memberOffset, memberLength,
    * decompressedBytes). Byte-exact: offsets come from counting every
    * consumed input byte through the member header, deflate stream, and
    * 8-byte trailer; each member's CRC32 and ISIZE verify (RFC 1952 —
    * a flipped bit refuses, never yields a wrong slice). Loud on
    * truncation and non-gzip input.
    */
  def gzipMembers(in: java.io.InputStream)
      : Iterator[(Long, Long, Array[Byte])] =
    new Iterator[(Long, Long, Array[Byte])] {
      private val inBuf = new Array[Byte](1 << 16)
      private var inPos = 0
      private var inLim = 0
      private var streamOff = 0L // stream offset of inBuf(inPos)
      private var nextMember: (Long, Long, Array[Byte]) = null
      private var done = false

      private def refill(): Boolean = {
        if (inPos == inLim) { inPos = 0; inLim = 0 }
        val n = in.read(inBuf, inLim, inBuf.length - inLim)
        if (n <= 0) false else { inLim += n; true }
      }

      private def readByte(): Int =
        if (inPos == inLim && !refill()) -1
        else { val b = inBuf(inPos) & 0xFF; inPos += 1; streamOff += 1; b }

      private def need(what: String): Int = {
        val b = readByte()
        require(b >= 0, s"gzip member: truncated in $what at offset $streamOff")
        b
      }

      private def skipHeader(): Unit = {
        val m1 = need("magic"); val m2 = need("magic")
        require(m1 == 0x1F && m2 == 0x8B,
          f"gzip member: bad magic $m1%02x$m2%02x at offset ${streamOff - 2}")
        require(need("method") == 8, "gzip member: not DEFLATE")
        val flg = need("flags")
        var k = 0
        while (k < 6) { need("mtime/xfl/os"); k += 1 }
        if ((flg & 4) != 0) { // FEXTRA: 2-byte LE length + payload
          val xlen = need("extra") | (need("extra") << 8)
          var i = 0
          while (i < xlen) { need("extra"); i += 1 }
        }
        if ((flg & 8) != 0) while (need("name") != 0) () // FNAME
        if ((flg & 16) != 0) while (need("comment") != 0) () // FCOMMENT
        if ((flg & 2) != 0) { need("hcrc"); need("hcrc"): Unit } // FHCRC
      }

      private def advance(): Unit = {
        if (done || nextMember != null) return
        if (inPos == inLim && !refill()) { done = true; return }
        val start = streamOff
        skipHeader()
        val inf = new java.util.zip.Inflater(true)
        val crc = new java.util.zip.CRC32
        val out = new java.io.ByteArrayOutputStream(64 * 1024)
        val outBuf = new Array[Byte](64 * 1024)
        try {
          while (!inf.finished()) {
            if (inf.needsInput()) {
              require(inPos < inLim || refill(),
                s"gzip member at offset $start: truncated deflate stream")
              inf.setInput(inBuf, inPos, inLim - inPos)
            }
            val before = inf.getRemaining
            val n = inf.inflate(outBuf)
            val used = before - inf.getRemaining
            inPos += used
            streamOff += used
            if (n > 0) { out.write(outBuf, 0, n); crc.update(outBuf, 0, n) }
            else require(n > 0 || inf.finished() || inf.needsInput(),
              s"gzip member at offset $start: inflater stalled")
          }
        } catch {
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(
              s"gzip member at offset $start is damaged (${e.getMessage})")
        } finally inf.end()
        // 8-byte trailer: CRC32 LE + ISIZE LE — both VERIFY
        var trailer = 0L
        var i = 0
        while (i < 8) { trailer |= need("trailer").toLong << (8 * i); i += 1 }
        val wantCrc = trailer & 0xFFFFFFFFL
        val wantIsize = (trailer >>> 32) & 0xFFFFFFFFL
        require(crc.getValue == wantCrc,
          f"gzip member at offset $start: CRC32 mismatch " +
            f"(stored $wantCrc%08x, computed ${crc.getValue}%08x)")
        require((out.size().toLong & 0xFFFFFFFFL) == wantIsize,
          s"gzip member at offset $start: ISIZE mismatch " +
            s"(stored $wantIsize, inflated ${out.size()})")
        nextMember = (start, streamOff - start, out.toByteArray)
      }

      override def hasNext: Boolean = { advance(); nextMember != null }
      override def next(): (Long, Long, Array[Byte]) = {
        advance()
        if (nextMember == null) throw new NoSuchElementException("gzipMembers")
        val r = nextMember; nextMember = null; r
      }
    }

  /** The indexable records of one per-record-gzipped shard stream:
    * each gzip member must decode to exactly ONE WARC record (the
    * crawl-archive layout [[Warc.writeWarc]] writes; a member holding
    * several records has no per-record offsets and REFUSES — index a
    * re-packed shard instead of silently indexing only member heads).
    */
  def indexShard(in: java.io.InputStream): Iterator[IndexedRecord] =
    gzipMembers(in).map { case (off, len, bytes) =>
      val recs = Warc.parseAll(bytes)
      require(recs.length == 1,
        s"WARC member at offset $off holds ${recs.length} records — " +
          "per-record gzip layout required for offset indexing")
      IndexedRecord(off, len, recs.head)
    }

  /** Wrap `it` so `closeable` closes as soon as `hasNext` first turns
    * false (and stays closed) — eager per-group resource release inside
    * `flatMapGroups`, where the task-completion listener alone would
    * accumulate one open handle per visited file for the task lifetime.
    */
  private def closeOnExhaust[A](it: Iterator[A],
                                closeable: java.io.Closeable): Iterator[A] =
    new Iterator[A] {
      private var closed = false
      override def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && !closed) {
          closed = true
          try closeable.close() catch { case _: java.io.IOException => () }
        }
        h
      }
      override def next(): A = it.next()
    }

  // ---------------------------------------------------------------------
  // Spark surfaces
  // ---------------------------------------------------------------------

  /** Strip the RFC 2396 angle brackets WARC id headers wrap their URIs
    * in (`<urn:uuid:...>` -> `urn:uuid:...`); null passes through.
    */
  private def stripAngles(s: String): String =
    if (s == null) s
    else {
      val t = s.trim
      if (t.length >= 2 && t.charAt(0) == '<' && t.charAt(t.length - 1) == '>')
        t.substring(1, t.length - 1)
      else t
    }

  /** Index every per-record-gzipped WARC shard under `pathGlob`: one
    * row per record — (file, offset, length, warc_type, url,
    * content_type, warc_date, payload_bytes, status, digest,
    * record_id, payload_digest, refers_to, refers_to_uri, location).
    * Same streaming shape as [[Warc.readWarc]]: paths in, one member
    * in memory at a time.
    *
    * The r20 columns carry the REAL-crawl record semantics:
    * `record_id`/`payload_digest`/`refers_to`/`refers_to_uri` are the
    * declared WARC headers (ISO 28500 §5.2/§6.7.2 — a `revisit` record
    * points at its original capture through them; angle brackets strip
    * from the id URIs), and `location` is the HTTP `Location` header of
    * a response (the redirect target [[resolveRedirects]] walks). All
    * nullable; all ~tens of bytes, so the index row stays CDX-sized.
    */
  def indexWarc(spark: SparkSession, pathGlob: String): DataFrame =
    indexRows(spark, Warc.listPaths(spark, pathGlob))

  /** Incremental form of [[indexWarc]] for a LANDING directory: only
    * shards NOT already present in `existingIndex`'s `file` column are
    * opened and indexed — the caller appends the returned delta to its
    * index table, so maintaining a CDX table over a live crawl is
    * O(new shards) per run, never a re-scan of the whole directory.
    * One anti-join on the path strings (a few hundred bytes per shard —
    * at 100 TB of WARC that is ~100k rows, a broadcast-sized frame);
    * the indexing pass itself is the same one-task-per-shard streaming
    * walk. `openedShardCount` instruments the O(new) contract.
    */
  def indexWarcDelta(spark: SparkSession, pathGlob: String,
                     existingIndex: DataFrame): DataFrame = {
    import spark.implicits._
    val seen = existingIndex.select(col("file").cast("string")).distinct()
    val newPaths = Warc.listPaths(spark, pathGlob).toDF("file")
      .join(seen, Seq("file"), "left_anti")
      .as[String]
    indexRows(spark, newPaths)
  }

  /** Shards actually OPENED by [[indexWarc]]/[[indexWarcDelta]] —
    * instrumentation for the O(new shards) incremental contract
    * (`WarcIndexSpec` reads it; local-mode counter).
    */
  private[ext] val openedShardCount = new java.util.concurrent.atomic.LongAdder

  /** Members actually range-read by [[fetchRecords]] — instrumentation
    * for the fetch-once contract of [[hydrateObservations]] (N revisits
    * of one original move its bytes exactly once).
    */
  private[ext] val fetchedMemberCount = new java.util.concurrent.atomic.LongAdder

  /** One index row — field names ARE the index column names. Package
    * visible, not private: a private nested class is private in the
    * bytecode too, and the encoder's generated code must call its
    * accessors (a private one makes the scan fall back to the
    * interpreter).
    */
  private[ext] final case class CdxRow(
      file: String, offset: Long, length: Long, warc_type: String,
      url: String, content_type: String, warc_date: String,
      payload_bytes: Long, status: Option[Int], digest: String,
      record_id: String, payload_digest: String, refers_to: String,
      refers_to_uri: String, location: String)

  /** The per-shard indexing walk [[indexRows]] and [[indexWarcStream]]
    * share: open, stream members, enrich each record into a [[CdxRow]].
    */
  private def shardRows(path: String, confMap: Map[String, String])
      : Iterator[CdxRow] = {
    openedShardCount.increment()
    indexShard(Warc.openStream(path, confMap)).map { ir =>
      // status + digest are the CDX enrichment fields external
      // consumers key on: status screens error captures WITHOUT a
      // fetch; digest is the dedup-by-content key Common Crawl's
      // own index carries — and like CC's WARC-Payload-Digest it
      // hashes the PAYLOAD (HTTP framing stripped) for response
      // records, so two captures of one page differing only in
      // Date/Set-Cookie response headers still collapse; records
      // whose framing fails to parse (and non-response records)
      // hash the whole body
      val isResponse = ir.record.warcType.equalsIgnoreCase("response")
      val status = if (isResponse) Warc.httpStatus(ir.record.body) else -1
      val digestBytes =
        if (isResponse)
          try Warc.httpBody(ir.record.body)
          catch { case _: IllegalArgumentException => ir.record.body }
        else ir.record.body
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(digestBytes).map("%02x".format(_)).mkString
      val h = ir.record.headers
      CdxRow(path, ir.offset, ir.length, ir.record.warcType,
        ir.record.targetUri, ir.record.contentType,
        h.getOrElse("warc-date", null),
        ir.record.body.length.toLong,
        if (status > 0) Some(status) else None,
        digest,
        stripAngles(h.getOrElse("warc-record-id", null)),
        h.getOrElse("warc-payload-digest", null),
        stripAngles(h.getOrElse("warc-refers-to", null)),
        h.getOrElse("warc-refers-to-target-uri", null),
        if (isResponse) Warc.httpHeaderOf(ir.record.body, "location")
        else null)
    }
  }

  private def indexRows(spark: SparkSession,
                        paths: org.apache.spark.sql.Dataset[String])
      : DataFrame = {
    import spark.implicits._
    val confMap = Warc.hadoopConfMap(spark)
    paths.flatMap(path => shardRows(path, confMap)).toDF()
  }

  /** Structured Streaming form of [[indexWarc]] for a crawl LANDING
    * directory — the third leg of incremental CDX maintenance next to
    * [[indexWarcDelta]]: shards index as they arrive (the `binaryFile`
    * source's checkpoint tracks seen files, so each shard is opened
    * exactly once across restarts), each record-streamed executor-side
    * exactly like batch. Sink the frame into the index table
    * per-trigger; [[dedupByDigest]]/[[resolveRevisits]] compose
    * downstream of the accumulated table. `maxFilesPerTrigger` bounds a
    * micro-batch to that many shards (0 = source default).
    */
  def indexWarcStream(spark: SparkSession, pathGlob: String,
                      maxFilesPerTrigger: Int = 0): DataFrame = {
    import spark.implicits._
    val confMap = Warc.hadoopConfMap(spark)
    var reader = spark.readStream.format("binaryFile")
      // the source's FIXED schema (streaming file sources require it
      // explicitly); the projection below prunes to path
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, " +
          "content BINARY"))
    if (maxFilesPerTrigger > 0)
      reader = reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    reader.load(pathGlob)
      .select(col("path")).as[String]
      .flatMap(path => shardRows(path, confMap))
      .toDF()
  }

  /** Hydrate an index subset: `index` needs (`file`, `offset`,
    * `length`) columns; returns (file, offset, warc_type, url,
    * content_type, body). Rows group BY FILE, offsets sort ascending,
    * ONE open + forward seeks per (file, task) — exactly `length`
    * bytes read per record, each member's CRC verifying on decode. A
    * stale index (offset not at a gzip member, length torn) refuses
    * loudly rather than yielding a wrong record.
    *
    * `splitBytes` (0 = off) sub-splits a FILE's rows into
    * offset-range groups of that many bytes, so a fetch concentrated
    * in a few huge shards still fans across the cluster (the
    * one-task-per-file default is right when selected rows spread over
    * many shards; a 100 GB shard holding most of the hits wants
    * ~`splitBytes`-sized work units — seek locality within each range
    * is preserved by the ascending sort).
    */
  def fetchRecords(index: DataFrame, splitBytes: Long = 0L): DataFrame = {
    require(splitBytes >= 0L, s"splitBytes must be >= 0 (got $splitBytes)")
    val spark = index.sparkSession
    import spark.implicits._
    val confMap = Warc.hadoopConfMap(spark)
    index.select(col("file").cast("string"), col("offset").cast("long"),
        col("length").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(r => (r._1, if (splitBytes > 0L) r._2 / splitBytes else 0L))
      .flatMapGroups { (key: (String, Long),
                        rows: Iterator[(String, Long, Long)]) =>
        val file = key._1
        val sorted = rows.map(r => (r._2, r._3)).toArray.sortBy(_._1)
        if (sorted.isEmpty) Iterator.empty
        else {
          val in = Warc.openStream(file, confMap)
          val base = sorted.iterator.map { case (off, len) =>
            fetchedMemberCount.increment()
            require(len > 0 && len <= Int.MaxValue - 8,
              s"fetchRecords: bad member length $len at $file:$off")
            in.seek(off)
            val bytes = in.readNBytes(len.toInt)
            require(bytes.length == len,
              s"fetchRecords: $file truncated at offset $off " +
                s"(wanted $len bytes, got ${bytes.length}) — stale index?")
            val members = gzipMembers(
              new java.io.ByteArrayInputStream(bytes)).toList
            require(members.length == 1 && members.head._2 == len,
              s"fetchRecords: $file:$off is not one whole gzip member — " +
                "stale index?")
            val recs = Warc.parseAll(members.head._3)
            require(recs.length == 1,
              s"fetchRecords: member at $file:$off decodes to " +
                s"${recs.length} WARC records — stale index?")
            val r = recs.head
            (file, off, r.warcType, r.targetUri, r.contentType, r.body)
          }
          // close the handle when THIS group's iterator drains — a task
          // hydrating rows from many files would otherwise hold every
          // file's handle open until task completion (fd / connection-
          // pool exhaustion on HDFS/S3 at sampled-fetch scale); the
          // task-completion listener registered by openStream stays as
          // the abandoned-iterator backstop (double-close is harmless)
          closeOnExhaust(base, in)
        }
      }
      .toDF("file", "offset", "warc_type", "url", "content_type", "body")
  }

  /** [[fetchRecords]] for `response` rows with the HTTP framing
    * stripped — (file, offset, url, charset, body), the
    * [[Warc.readResponses]] shape hydrated by range read.
    */
  def fetchResponses(index: DataFrame, splitBytes: Long = 0L): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    fetchRecords(index, splitBytes)
      .filter(lower(col("warc_type")) === "response")
      .as[(String, Long, String, String, String, Array[Byte])]
      .map { case (file, off, _, url, _, raw) =>
        val (body, charset) = Warc.httpBodyAndCharset(raw)
        (file, off, url, charset, body)
      }
      .toDF("file", "offset", "url", "charset", "body")
  }

  // ---------------------------------------------------------------------
  // Real-crawl record semantics: revisit + redirect resolution (r20)
  // ---------------------------------------------------------------------

  /** Resolve `revisit` records against their original captures — how a
    * deduplicated crawl (Common Crawl ships exactly this; ISO 28500
    * §6.7.2) recovers every URL OBSERVATION: a revisit record says "the
    * server returned content identical to a prior capture" and carries
    * `WARC-Payload-Digest` (and/or `WARC-Refers-To`) instead of the
    * body, so a reader filtering to `response` records silently loses
    * that URL.
    *
    * Returns one row per URL observation over an [[indexWarc]] frame:
    * every `response` row as itself, plus every `revisit` row joined to
    * its original — primary key the declared payload digest (both
    * records carry it in a real crawl), fallback the
    * `WARC-Refers-To` -> `WARC-Record-ID` link. The observation's
    * `(file, offset, length, digest)` point at the ORIGINAL's member,
    * so hydration ([[hydrateObservations]]) fetches the original's
    * bytes; `warc_date` is the observation's own capture time;
    * `status`/`orig_url` come from the original. A DANGLING revisit
    * (neither link resolves — a torn crawl subset) keeps its URL row
    * with null `file`/`offset`/`length`/`digest`/`orig_url` rather than
    * refusing: one damaged pointer should cost one document's bytes,
    * not the whole observation frame; filter `file IS NULL` to audit.
    *
    * Scale: two hash group-bys + two hash joins, all over index rows
    * (~150 bytes each) — document bytes never move. Duplicate originals
    * per digest collapse earliest-capture-first (the [[dedupByDigest]]
    * tie-break), so the join never fans a revisit out.
    */
  def resolveRevisits(index: DataFrame): DataFrame = {
    val resp = index.filter(lower(col("warc_type")) === "response")
    // one original per declared payload digest / record id — earliest
    // capture wins, deterministic
    def oneOriginalPer(key: String) = resp
      .filter(col(key).isNotNull)
      .groupBy(col(key).as(s"__$key"))
      .agg(min_by(
        struct(col("url").as("o_url"), col("status").as("o_status"),
          col("file").as("o_file"), col("offset").as("o_offset"),
          col("length").as("o_length"), col("digest").as("o_digest")),
        struct(col("file"), col("offset"))).as("__o"))
      .select(col(s"__$key"), col("__o.*"))
    val byDigest = oneOriginalPer("payload_digest")
    val byRecId = oneOriginalPer("record_id")
    val direct = resp
      .select(col("url"), col("warc_date"), col("status"),
        col("file"), col("offset"), col("length"), col("digest"),
        col("url").as("orig_url"))
      .withColumn("via_revisit", lit(false))
    val revisits = index.filter(lower(col("warc_type")) === "revisit")
      .select(col("url"), col("warc_date"),
        col("payload_digest"), col("refers_to"))
      .join(byDigest, col("payload_digest") === col("__payload_digest"),
        "left")
      .join(byRecId.toDF(byRecId.columns.map(c => c + "2").toIndexedSeq: _*),
        col("refers_to") === col("__record_id2"), "left")
    def pick(a: String) = coalesce(col(a), col(a + "2"))
    val resolved = revisits.select(
      col("url"), col("warc_date"),
      pick("o_status").as("status"),
      pick("o_file").as("file"),
      pick("o_offset").as("offset"),
      pick("o_length").as("length"),
      pick("o_digest").as("digest"),
      pick("o_url").as("orig_url"))
      .withColumn("via_revisit", lit(true))
    direct.unionByName(resolved)
  }

  /** Hydrate a [[resolveRevisits]] observation frame (or any frame
    * whose rows point at index members through nullable
    * `file`/`offset`/`length` columns): the DISTINCT members fetch once
    * each by range read — N revisits of one original move its bytes
    * exactly once — and the bytes join back to every observation.
    * Rows with a null member pointer (dangling revisits) keep a null
    * `body`. One distinct + one join over index-row-sized data plus the
    * [[fetchRecords]] range reads.
    */
  def hydrateObservations(observations: DataFrame,
                          splitBytes: Long = 0L): DataFrame = {
    val members = observations
      .filter(col("file").isNotNull && col("offset").isNotNull &&
        col("length").isNotNull)
      .select(col("file"), col("offset"), col("length"))
      .distinct()
    val fetched = fetchRecords(members, splitBytes)
      .select(col("file").as("__m_file"), col("offset").as("__m_offset"),
        col("body"))
    observations
      .join(fetched,
        col("file") === col("__m_file") && col("offset") === col("__m_offset"),
        "left")
      .drop("__m_file", "__m_offset")
  }

  /** Resolve redirect chains over an [[indexWarc]] frame: for every
    * captured `response` row, walk its HTTP `Location` header through
    * the index — each hop RFC 3986-resolved against the hop's own URL
    * (relative Locations are routine), matched on the canonical URL
    * form — emitting `(request_url, final_url, hops, final_status)`.
    * This is the crawl-curation step between fetch and dedup: a 3xx
    * capture's content lives at the chain's end, and sampling by URL
    * must credit the final 200 capture to the originally requested URL.
    *
    * Terminal cases, all bounded and loud in the output rather than
    * thrown (a crawl always contains damage):
    *  - non-redirect rows: `final_url = request_url`, `hops = 0`;
    *  - a Location whose target was never captured (dangling):
    *    `final_url` = the resolved target, `final_status` NULL;
    *  - a cycle (the next canonical URL was already visited): stops at
    *    the last NEW url with its 3xx status;
    *  - `maxHops` exhausted: the row keeps its current 3xx status —
    *    `final_status BETWEEN 300 AND 399` marks the unresolved rows.
    *
    * Scale: `maxHops` hash joins of the (shrinking) active frontier
    * against the per-canonical-URL target table — index rows only,
    * never document bytes; duplicate captures of one URL collapse
    * earliest-first before the walk. Pass a MATERIALIZED index (a
    * parquet CDX table, not the raw shard walk): the target table is
    * referenced once per hop, so an unmaterialized index re-parses the
    * crawl `maxHops` times.
    *
    * Composition note: targets are `response` rows; in a deduplicated
    * crawl where a chain's end was captured as a `revisit`, run
    * [[resolveRevisits]] first and union the resolved observations'
    * `(url, status)` (their `location` is null — a revisit is by
    * definition a 2xx re-capture) into the index before walking.
    */
  def resolveRedirects(index: DataFrame, maxHops: Int = 5): DataFrame = {
    require(maxHops >= 1 && maxHops <= 32,
      s"maxHops must be in [1, 32] (got $maxHops)")
    val canonUdf = udf { u: String =>
      if (u == null) null else UrlOps.parse(u).canonical
    }
    val resolveUdf = udf { (base: String, loc: String) =>
      UrlOps.resolve(base, loc)
    }
    // one target row per canonical URL — earliest capture wins
    val targets = index.filter(lower(col("warc_type")) === "response")
      .select(canonUdf(col("url")).as("t_key"), col("url").as("t_url"),
        col("status").cast("int").as("t_status"),
        col("location").as("t_location"), col("file"), col("offset"))
      .groupBy("t_key")
      .agg(min_by(struct(col("t_url"), col("t_status"), col("t_location")),
        struct(col("file"), col("offset"))).as("__t"))
      .select(col("t_key"), col("__t.t_url"), col("__t.t_status"),
        col("__t.t_location"))
    def redirecting(status: Column, location: Column): Column =
      status.between(300, 399) && location.isNotNull
    var state = targets.select(
      col("t_url").as("request_url"),
      col("t_url").as("cur_url"),
      col("t_status").as("cur_status"),
      col("t_location").as("cur_location"),
      lit(0).as("hops"),
      array(col("t_key")).as("visited"),
      (!redirecting(col("t_status"), col("t_location"))).as("done"))
    // each hop references `state` exactly ONCE (a filter/union-per-branch
    // formulation would reference it four times per hop — an
    // exponentially growing plan); done rows carry a null next_key, so
    // the left join passes them through untouched. Plan depth stays
    // linear in maxHops.
    var hop = 0
    while (hop < maxHops) {
      hop += 1
      val stepped = state
        .withColumn("next_url",
          when(!col("done"),
            resolveUdf(col("cur_url"), col("cur_location"))))
        .withColumn("next_key", when(!col("done"), canonUdf(col("next_url"))))
        // cycle guard: a revisited canonical URL stops the walk at the
        // last NEW url (its 3xx status marks the row unresolved)
        .withColumn("cycle",
          !col("done") && array_contains(col("visited"), col("next_key")))
      val joined = stepped.join(targets,
        col("next_key") === col("t_key") && !col("cycle"), "left")
      val stay = col("done") || col("cycle")
      val found = col("t_url").isNotNull
      state = joined.select(
        col("request_url"),
        when(stay, col("cur_url"))
          .when(found, col("t_url"))
          .otherwise(col("next_url")).as("cur_url"),
        when(stay, col("cur_status"))
          .when(found, col("t_status"))
          .otherwise(lit(null).cast("int")).as("cur_status"),
        when(stay, col("cur_location"))
          .when(found, col("t_location"))
          .otherwise(lit(null).cast("string")).as("cur_location"),
        when(stay, col("hops")).otherwise(col("hops") + 1).as("hops"),
        when(!stay && found,
          array_union(col("visited"), array(col("next_key"))))
          .otherwise(col("visited")).as("visited"),
        when(stay, lit(true))
          .when(found, !redirecting(col("t_status"), col("t_location")))
          .otherwise(lit(true)) // dangling: terminal
          .as("done"))
    }
    state.select(col("request_url"), col("cur_url").as("final_url"),
      col("hops"), col("cur_status").as("final_status"))
  }

  // ---------------------------------------------------------------------
  // Frontier diff: sitemap-declared vs captured (r20)
  // ---------------------------------------------------------------------

  /** Diff the crawl FRONTIER: which site-declared URLs (a
    * [[Sitemaps.explodeEntries]] frame's `loc`/`lastmod` columns) are
    * not yet captured, and which captures a declared `lastmod`
    * postdates — the set a recrawl scheduler fetches next. Declared and
    * captured sides key on the same SURT transform the CDX layer sorts
    * by; dates compare on their digits-only prefix right-padded to the
    * CDX 14-digit form (both sides are ISO-8601-shaped strings — a
    * date-only `lastmod` means midnight, the protocol's reading).
    * Returns `(loc, surt, lastmod, last_capture, reason)` with reason
    * `uncaptured` or `stale`; up-to-date URLs drop. One aggregate on
    * the index + one hash join, index-row-sized data only.
    */
  def frontierDiff(entries: DataFrame, index: DataFrame,
                   locCol: String = "loc",
                   lastmodCol: String = "lastmod"): DataFrame = {
    val declared = entries
      .select(col(locCol).as("loc"), col(lastmodCol).as("lastmod"))
      .withColumn("surt", surtUdf(col("loc")))
    val captured = index.filter(lower(col("warc_type")) === "response")
      .groupBy(surtUdf(col("url")).as("surt"))
      .agg(max(col("warc_date")).as("last_capture"))
    def ts(c: Column): Column =
      rpad(regexp_replace(c, "[^0-9]", ""), 14, "0")
    declared.join(captured, Seq("surt"), "left")
      .withColumn("reason",
        when(col("last_capture").isNull, lit("uncaptured"))
          .when(col("lastmod").isNotNull &&
            ts(col("lastmod")) > ts(col("last_capture")), lit("stale")))
      .filter(col("reason").isNotNull)
      .select("loc", "surt", "lastmod", "last_capture", "reason")
  }

  /** Exact dedup-by-content over the INDEX — one surviving row per
    * `digest`, the earliest capture winning ((file, offset)
    * lexicographic, deterministic). This is the Common Crawl idiom:
    * identical payloads collapse BEFORE any shard byte is fetched, so
    * the subsequent [[fetchRecords]] moves each distinct document's
    * bytes exactly once. One hash groupBy (~150-byte rows), map-side
    * partial — the exact-dedup shape everywhere in this library.
    */
  def dedupByDigest(index: DataFrame): DataFrame =
    index
      .groupBy(col("digest"))
      .agg(min_by(struct(index.columns.map(col).toIndexedSeq: _*),
        struct(col("file"), col("offset"))).as("__row"))
      .select(col("__row.*"))

  // ---------------------------------------------------------------------
  // SURT-clustered index TABLE (r20): keyset serving for the CDX layer
  // ---------------------------------------------------------------------

  /** Persist an [[indexWarc]] frame into a [[graft.store.TableStore]]
    * table CLUSTERED BY SURT KEY — one range exchange + within-file
    * sort, so each parquet file covers a contiguous SURT band and a
    * host-prefix lookup (`store.readPrefix(table, "surt",
    * "com,example)")`) plans O(matching files), not O(all files): the
    * serving-side twin of [[writeCdxj]]'s binary-searchable text form.
    * `surt` is declared a stats column, so after the first refresh the
    * pruning verdicts answer from the one-sidecar manifest instead of a
    * per-query footer pass — the O(new tail) discipline the storage
    * layer applies everywhere.
    */
  def writeIndexTable(index: DataFrame, store: graft.store.TableStore,
                      table: String, nShards: Int = 16): Unit = {
    require(nShards >= 1, s"nShards must be >= 1 (got $nShards)")
    val withSurt = index.withColumn("surt", surtUdf(col("url")))
    store.append(table,
      withSurt.repartitionByRange(nShards, col("surt"))
        .sortWithinPartitions("surt"))
    store.declareStatsColumns(table, Seq("surt"))
  }

  // ---------------------------------------------------------------------
  // CDXJ serialization (pywb / Common Crawl layout)
  // ---------------------------------------------------------------------

  /** The SURT (Sort-friendly URI Reordering Transform) key CDX files
    * sort by: host labels reversed and comma-joined (canonicalized via
    * [[UrlOps.normalizeHost]]), `)/` separator, then path+query —
    * `https://www.Example.com/a/b?x=1` -> `com,example)/a/b?x=1`.
    * Scheme and port drop (the public CDX convention). Null/opaque
    * URLs key as themselves.
    */
  def surtKey(url: String): String = {
    if (url == null) return ""
    val parts = UrlOps.parse(url)
    if (parts.host == null || parts.host.isEmpty)
      return escapeKey(url.trim)
    val host = parts.host.split('.').reverse.mkString(",")
    val canon = parts.canonical
    val sep = canon.indexOf("://")
    val afterHost = {
      var i = sep + 3
      while (i < canon.length && canon.charAt(i) != '/' &&
        canon.charAt(i) != '?') i += 1
      canon.substring(i)
    }
    escapeKey(host + ")" + (if (afterHost.isEmpty) "/" else afterHost))
  }

  /** The CDXJ line format is space-delimited: a literal space (or
    * newline) inside a key — crawls DO carry invalid URLs with raw
    * spaces — would break the `<surt> <ts> <json>` split on read-back,
    * so key whitespace percent-encodes (the pywb convention).
    */
  private def escapeKey(s: String): String =
    if (s.indexOf(' ') < 0 && s.indexOf('\t') < 0 && s.indexOf('\n') < 0 &&
        s.indexOf('\r') < 0) s
    else s.replace(" ", "%20").replace("\t", "%09")
      .replace("\n", "%0A").replace("\r", "%0D")

  private val surtUdf = udf { url: String => surtKey(url) }

  /** Serialize an [[indexWarc]] frame as CDXJ-style text lines —
    * `<surt> <timestamp> <json>` with the pywb field names (url, mime,
    * status, digest, filename, offset, length) — globally sorted by
    * (surt, timestamp) so consumers binary-search. `nShards` bounds
    * output files (one range exchange).
    *
    * The r20 enrichment fields (warc_type, record_id, payload_digest,
    * refers_to, location) ride as EXTRA JSON keys when present —
    * `to_json` drops nulls, so plain capture lines stay pywb-shaped
    * while revisit/redirect rows round-trip losslessly (CDXJ's JSON
    * block is extensible by design; unknown keys are ignored by
    * conventional readers).
    */
  def writeCdxj(index: DataFrame, path: String, nShards: Int = 16): Unit = {
    require(nShards >= 1, s"nShards must be >= 1 (got $nShards)")
    val ts = coalesce(
      regexp_replace(col("warc_date"), "[^0-9]", ""), lit("0"))
    val line = concat_ws(" ",
      surtUdf(col("url")),
      ts,
      to_json(struct(
        col("url"), col("content_type").as("mime"),
        col("status"), col("digest"),
        element_at(split(col("file"), "/"), -1).as("filename"),
        col("offset"), col("length"),
        // drop the "response" bulk to keep capture lines pywb-shaped;
        // revisit/request/metadata rows need their type to round-trip
        when(lower(col("warc_type")) =!= "response", col("warc_type"))
          .as("warc_type"),
        col("record_id"), col("payload_digest"), col("refers_to"),
        col("location"))))
    index
      .select(line.as("value"))
      .repartitionByRange(nShards, col("value"))
      .sortWithinPartitions("value")
      .write.mode("overwrite").text(path)
  }

  /** Read CDXJ lines back to the (surt, timestamp, url, mime, status,
    * digest, filename, offset, length, warc_type, record_id,
    * payload_digest, refers_to, location) frame — a `warc_type` absent
    * from the line (the pywb-shaped bulk) reads back as "response";
    * joins back to shard DIRECTORIES via `withFileDir` for
    * [[fetchRecords]] (CDXJ carries filenames, not absolute paths, per
    * the public convention).
    */
  def readCdxj(spark: SparkSession, pathGlob: String): DataFrame = {
    val raw = spark.read.text(pathGlob)
    val sp = split(col("value"), " ", 3)
    val json = element_at(sp, 3)
    val schema = "url STRING, mime STRING, status INT, digest STRING, " +
      "filename STRING, offset BIGINT, length BIGINT, " +
      "warc_type STRING, record_id STRING, payload_digest STRING, " +
      "refers_to STRING, location STRING"
    raw.select(element_at(sp, 1).as("surt"),
        element_at(sp, 2).as("timestamp"),
        from_json(json, org.apache.spark.sql.types.StructType.fromDDL(schema))
          .as("j"))
      .select(col("surt"), col("timestamp"), col("j.*"))
      .withColumn("warc_type", coalesce(col("warc_type"), lit("response")))
  }

  /** Resolve a [[readCdxj]] frame's filenames against the shard
    * directory, yielding the (file, offset, length, url) shape
    * [[fetchRecords]] consumes.
    */
  def withFileDir(cdxj: DataFrame, shardDir: String): DataFrame =
    cdxj.withColumn("file",
      concat(lit(shardDir.stripSuffix("/") + "/"), col("filename")))
}
