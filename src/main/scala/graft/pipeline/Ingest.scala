package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.etl.{Chunker, ChunkerConfig, Images, Ner, Parse}
import graft.model.{Entities, ParsedDoc, TextChunk}
import graft.store.{ObjectStore, TableStore}

/** §3.1 — the ingest dataflow: binary files → parse → chunk → NER →
  * documents/chunks tables, then element iteration → PNG render → object
  * store → chart rows. Batch (`ingest`) and Structured Streaming
  * (`ingestStream`, replacing the reference's watchdog observer
  * main.py:154-159 with the checkpointed file source — exactly-once FILE
  * DISCOVERY vs the reference's at-least-once watcher, SURVEY §7.4.5).
  *
  * Delivery contract for the WRITES: foreachBatch re-delivers the last
  * batch after a restart, so a committed-batch marker skips fully
  * replayed batches; a crash mid-batch can leave partial appends that
  * the replay would duplicate — run streams with
  * `dedupByContent = true` (content-sha dedup) to close that window, or
  * accept the reference's own at-least-once behavior without it.
  *
  * The marker is scoped to the CHECKPOINT's identity (the query id Spark
  * persists in `<checkpoint>/metadata`), because batch ids restart at 0
  * whenever an operator points ingestion at a fresh checkpoint dir — an
  * unscoped high-water mark would then silently skip every batch until
  * the new numbering caught up (data loss with no error). A marker from
  * a different checkpoint is ignored: the fresh stream REPLAYS, which is
  * the safe direction (at-least-once; `dedupByContent` de-duplicates).
  *
  * Scale design: parse/chunk/NER/render are one per-document map over the
  * scan's file partitions, so the heavy path has ZERO shuffles — chunk
  * ordinals and per-type chart counters are computed inside the
  * per-document iteration exactly like the reference's `enumerate`
  * (repository.py:28) and counters (pdf_parser.py:137-138), and every
  * chart renders exactly once. The only shuffle in the whole job is the
  * bucket exchange of the one id pass (GlobalOrder.prefixSumsOf over the
  * documents with values (1, chunks, charts) — literal-boundary buckets
  * summed by per-bucket windows, never a single-partition window), which
  * yields the document ids and the chunk and chart id bases together.
  */
final case class ProcessingConfig(
    chunker: ChunkerConfig = ChunkerConfig(),
    imageScale: Double = 2.0, // pdf_parser.py:30
    // number of hash buckets partitioning document_chunks by document_id
    // (SURVEY §7.4.7); chunk reads prune to one bucket
    chunkBuckets: Int = 16,
    // [EXT] inbox extension filter; the reference hardcodes *.pdf
    // (main.py:22,48) and that stays the default — a text/HTML/markdown
    // corpus widens it (the DocParser boundary already handles any bytes)
    fileGlob: String = "*.pdf",
    // [EXT] SURVEY §2.10: drop re-ingested content by sha-256 — the
    // reference re-processes duplicate drops (no dedup key); opt-in here
    // because it diverges from reference behavior
    dedupByContent: Boolean = false,
    // [EXT] incremental NEAR-dup detection: maintain a MinHash band index
    // (`minhash_bands` table) across batches and flag each new batch's
    // candidates against it into `near_dup_flags` — detection is
    // non-destructive (rows still ingest; a curation pass decides), which
    // is the reviewable behavior a production corpus wants
    flagNearDups: Boolean = false,
    // [EXT] re-crawl upsert: when a file whose FILENAME (basename — the
    // reference's own document key: its reads and its repository address
    // documents by filename) is already stored arrives again, REPLACE
    // the stored document — its documents row, chunks, chart rows, and
    // (when flagNearDups) its band-index and flag rows are
    // cascade-deleted before the batch's appends, and the replacement
    // row keeps the original created_at (the reference's
    // created-once/updated-now column pair, schema.py:33-37). Old chart
    // BLOBS become orphans by design — rows always delete first, so a
    // dangling row can never exist — and gcOrphanBlobs reclaims them in
    // the next maintenance window. Combined with dedupByContent=true,
    // re-crawls are idempotent: unchanged files skip, changed files
    // replace. The key is the BASENAME, deliberately: a re-crawl drops
    // the same logical document at a fresh dated path, so path-keying
    // would never match — but it follows that two DISTINCT documents
    // must not share a basename under this mode (they are ambiguous in
    // the reference's filename-keyed API for the same reason); a corpus
    // that can't guarantee that must leave this off. Opt-in because the
    // reference itself re-processes duplicate drops into NEW rows (no
    // upsert in main.py)
    replaceByFilename: Boolean = false,
    // [EXT] compact the ingest tables every N streamed batches: each
    // trigger appends one file per table, so an uncompacted long-running
    // stream degrades every read with file-listing and per-file open
    // overhead (and pushes maxId's footer pass toward its fallback).
    // Incremental bin-packing (TableStore.compactIncremental): only the
    // one-file-per-batch tail below `compactSmallBytes` is rewritten;
    // already-compacted files are carried by metadata renames, so the
    // per-cadence work is O(batches since last compaction), independent
    // of corpus size — a trigger never stalls behind a full-table
    // rewrite. Runs inside the single-writer loop between batches; in-
    // process readers between batches see fully-old-or-fully-new, while
    // an EXTERNAL concurrent reader can transiently fail inside the
    // swap's rename window (retryable — see overwriteAtomic's contract).
    // ON by default (every 16 batches): the cadence cost is O(new tail),
    // and a long-running default-config stream must not silently
    // accumulate one file per table per trigger until listings and the
    // footer max-id pass degrade linearly. Opt out with None (batch-only
    // ingest, or compaction scheduled out-of-band)
    compactEveryBatches: Option[Int] = Some(16),
    // files at or above this size are considered compacted and are never
    // rewritten again by the cadence (default 32 MB; packed output
    // targets ~128 MB files)
    compactSmallBytes: Long = 32L * 1024 * 1024)

final case class IngestStats(documents: Long, chunks: Long, charts: Long)

object IngestPipeline {
  /** Stable bucket assignment for chunk partitioning; foldable when the
    * document id is a literal, so serving filters constant-fold into
    * partition pruning.
    */
  def chunkBucket(documentId: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(documentId), lit(buckets.toLong))

  /** Scalar mirror of [[chunkBucket]] for DRIVER-side bucket derivation
    * (the serving point reads compute the one bucket to prune to before
    * any plan exists). Must stay bit-identical to the Column form:
    * Spark's `xxhash64` is XXH64 over the long's 8 little-endian bytes
    * with seed 42 (`XxHash64.seed`), which is exactly
    * `XXH64.hashLong(v, 42)`; `pmod` is the sign-safe modulus.
    * `IngestDocStoreSpec` pins scalar == Column across random ids — a
    * drift here would silently empty every chunk read.
    */
  def chunkBucketScalar(documentId: Long, buckets: Int): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(documentId, 42L)
    val b = buckets.toLong
    ((h % b) + b) % b
  }

  /** Identity of a streaming checkpoint: the query id Structured Streaming
    * persists in `<checkpoint>/metadata` at query start. Stable across
    * restarts on the same checkpoint; fresh for a new (or wiped) one —
    * even at the same path, because Spark mints a new UUID. Falls back to
    * a hash of the qualified path if the metadata is unreadable (then a
    * wiped-in-place checkpoint looks identical — still strictly safer
    * than the unscoped marker this replaces).
    */
  private[pipeline] def checkpointIdentity(spark: SparkSession, checkpointDir: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    def pathHash = {
      val qualified = p.getFileSystem(conf).makeQualified(p).toString
      java.lang.Long.toHexString(
        java.util.Arrays.hashCode(qualified.getBytes("UTF-8")).toLong & 0xffffffffL)
    }
    try {
      val f = p.getFileSystem(conf)
      if (!f.exists(p)) pathHash
      else {
        val in = f.open(p)
        val content =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(content)
          .map(_.group(1)).getOrElse(pathHash)
      }
    } catch { case scala.util.control.NonFatal(_) => pathHash }
  }
}

/** Chunk + NER payload computed per document (E7, pdf_parser.py:188-199).
  * Top-level so Spark can derive product encoders.
  */
final case class ChunkData(chunkIndex: Int, text: String,
                           tokenCount: Int, entities: Entities)
/** One rendered chart of a document (E5/E6): its per-type counter, info
  * fields and PNG bytes.
  */
final case class ChartData(chartType: String, typeIndex: Int, level: Int,
                           caption: String, png: Array[Byte])
/** Everything the parse pass computes for one document: chunks sorted by
  * `chunkIndex`, charts by `(chartType, typeIndex)` — the orders their
  * ids are dense in.
  */
final case class DocWithChunks(doc: ParsedDoc, chunks: Seq[ChunkData],
                               charts: Seq[ChartData])

final class IngestPipeline(
    spark: SparkSession,
    tables: TableStore,
    objects: ObjectStore,
    cfg: ProcessingConfig = ProcessingConfig(),
    // the production codec plug point (README "Production codec
    // boundaries"): a factory, invoked once per partition, so heavyweight
    // parsers amortize their init across the partition's files
    mkParser: () => Parse.DocParser = () => new Parse.TextDocParser,
    // operability hook: ingestBinary reports its named sub-phase durations
    // here (parse_chunk_ner, ids_writes_stats) so an operator — or Bench —
    // can attribute end-to-end ingest cost to the compute stage vs the
    // write stage instead of guessing; default no-op
    onPhase: (String, Double) => Unit = (_, _) => ())
  extends Serializable {

  import spark.implicits._

  // single source of truth for the bucket count: the ChunkBucketPruning
  // optimizer rule and DocumentStore read this conf, so a non-default
  // ingest configuration stays consistent across the session (a MISMATCHED
  // bucket count between writer and reader would silently filter out rows)
  spark.conf.set("spark.graft.chunkBuckets", cfg.chunkBuckets.toString)

  /** The bucket convention is WRITE-ONCE per table: once data exists, its
    * `_graft_buckets` marker wins over a differing ProcessingConfig —
    * re-bucketing appended data under a new modulus would mislabel every
    * pre-existing row (a full-table rewrite, not an append, is how you
    * change the convention).
    */
  private def effectiveChunkBuckets: Int =
    tables.getTableProp("document_chunks", "buckets").map(_.toInt)
      .getOrElse(cfg.chunkBuckets)

  /** The tables this pipeline writes, with their hive partition columns
    * — the single source of truth for BOTH the pre-write auto-heal scope
    * and the compaction cadence, so a table added to the write path can
    * never silently miss either.
    */
  private val ownedTables: Seq[(String, Seq[String])] = Seq(
    "documents" -> Nil, "document_chunks" -> Seq("doc_bucket"),
    "chart_data" -> Nil, "minhash_bands" -> Nil, "near_dup_flags" -> Nil)

  /** Clustering keys the compaction cadence sorts each table's packed
    * tail by — the columns the SERVING point reads prune on, so the
    * stats-pruned file skipping keeps working on the append tail
    * instead of degrading as one whole-key-range file lands per batch:
    * documents answers `id` lookups, the child tables answer
    * `document_id` (chunks inside their bucket dir, ordered by
    * chunk_index for the range endpoint). Band tables have no pruned
    * read — left unsorted.
    */
  private val ClusterKeys: Map[String, Seq[String]] = Map(
    "documents"       -> Seq("id"),
    "document_chunks" -> Seq("document_id", "chunk_index"),
    "chart_data"      -> Seq("document_id", "id"))

  /** Auto-heal the owned tables before writing. Scoped HERE, not
    * store-wide: other tables under the same root belong to other
    * writers, and their debris (or a refusal on it) is not this
    * pipeline's to delete or to be blocked by. One root listing; every
    * owned table is attempted before a combined refusal propagates — a
    * write that would fork an unrecovered owned table must not proceed,
    * but one refusal must not strand another table's recoverable bytes.
    */
  private def recoverOwnedTables(): Unit =
    tables.recoverSwapDebrisScoped(Some(ownedTables.map(_._1).toSet))

  /** Acquire (or renew) the writer lease on every owned table, refusing
    * the whole ingest if ANY is held live by a foreign writer — two
    * concurrent ingest drivers interleaving swaps would corrupt
    * silently, and a partial hold (3 of 5 tables) would let the refused
    * tables drift from the acquired ones. Runs BEFORE the startup
    * recovery so recovery executes under our own lease, and again at
    * every streamed batch (renewal): a writer that lost its lease to a
    * stale-TTL takeover fails its next batch loudly instead of racing
    * the usurper.
    */
  private def acquireOwnedLeases(): Unit =
    ownedTables.foreach { case (t, _) =>
      if (!tables.acquireWriterLease(t))
        throw new IllegalStateException(
          s"ingest refused: a live writer lease exists on '$t' — another " +
            "ingest driver owns these tables (stop it, or wait out " +
            "spark.graft.writerLeaseTtlMs after its crash)")
    }

  /** Clean-shutdown release so the next writer starts without waiting
    * out the TTL. Advisory — never throws (a failed release just costs
    * the successor one TTL).
    */
  private def releaseOwnedLeases(): Unit =
    ownedTables.foreach { case (t, _) =>
      try tables.releaseWriterLease(t)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** S2-style batch ingest of every file in a directory (main.py:41-49). */
  def ingest(inputDir: String, now: Timestamp = new Timestamp(System.currentTimeMillis())): IngestStats = {
    // single-writer lease first, then auto-heal any crashed swap BEFORE
    // writing (the reference's rollback-on-error, base.py:19-22):
    // appending to a mid-swap-absent table would fork it into a fresh
    // directory — and recovery itself must run under OUR lease, never
    // against a live foreign writer's in-flight swap
    acquireOwnedLeases()
    try {
      recoverOwnedTables()
      val bin = spark.read.format("binaryFile")
        .option("pathGlobFilter", cfg.fileGlob) // extension filter (main.py:22,48)
        .load(inputDir)
      ingestBinary(bin, now)
    } finally releaseOwnedLeases()
  }

  /** S1 — streaming ingest: new files appear as rows per micro-batch.
    * `archiveDir` enables S14 semantics (file_sensor.py:36-58 move-to-
    * processed) via the file source's cleanSource option.
    * `maxFilesPerBatch` caps one micro-batch's file count (the source's
    * maxFilesPerTrigger): without it an AvailableNow BACKFILL over a
    * large inbox materializes the whole backlog as one batch — at corpus
    * scale the cap is what keeps per-trigger memory and the replay
    * guard's at-least-once redo window bounded.
    */
  def ingestStream(inputDir: String, checkpointDir: String,
                   trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                   now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
                   archiveDir: Option[String] = None,
                   maxFilesPerBatch: Option[Int] = None)
  : StreamingQuery = {
    // lease, then auto-heal any crashed swap before the stream's first
    // write — the restarted-stream analogue of ingest()'s startup
    // recovery (a prior run may have died inside a compaction-cadence
    // swap window). The lease is renewed at every batch below and
    // released when the query terminates.
    acquireOwnedLeases()
    recoverOwnedTables()
    val reader = spark.readStream.format("binaryFile")
      .schema(new org.apache.spark.sql.types.StructType()
        .add("path", "string").add("modificationTime", "timestamp")
        .add("length", "long").add("content", "binary"))
      .option("pathGlobFilter", cfg.fileGlob)
      .option("recursiveFileLookup", "false") // recursive=False (main.py:156)
    maxFilesPerBatch.foreach(n => reader.option("maxFilesPerTrigger", n))
    archiveDir.foreach { dir =>
      reader.option("cleanSource", "archive").option("sourceArchiveDir", dir)
    }
    val bin = reader.load(inputDir)
    // resolved on the driver at first use, once per query run: Spark has
    // written `<checkpoint>/metadata` by the time any batch executes
    lazy val ckptId = IngestPipeline.checkpointIdentity(spark, checkpointDir)
    val query = bin.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // replay guard: foreachBatch delivers at-least-once — after a
        // crash the last batch re-arrives even if its writes completed.
        // A batch whose marker committed is skipped wholesale, making the
        // common full-replay case exactly-once; a crash MID-batch can
        // still duplicate that batch's partial appends unless
        // dedupByContent is on (see the class doc's delivery-contract
        // note). Marker written AFTER all of ingestBinary's writes.
        //
        // Batch ids are only comparable WITHIN one checkpoint, so the
        // marker carries the checkpoint identity; a marker written under
        // a different checkpoint (or the pre-identity legacy bare-long
        // form) never suppresses a batch (see the class doc).
        val skip = tables.getTableProp("documents", "last_batch").exists {
          _.split(":", 2) match {
            case Array(id, b) if id == ckptId => b.toLong >= batchId
            case _                            => false
          }
        }
        if (!skip) {
          // per-batch lease renewal: a writer that lost its tables to a
          // stale-TTL takeover (it stalled past the TTL) fails HERE,
          // loudly, before writing a byte against the usurper
          acquireOwnedLeases()
          ingestBinary(batch, now())
          if (tables.exists("documents"))
            tables.setTableProp("documents", "last_batch", s"$ckptId:$batchId")
          // compaction AFTER the committed-batch marker: a crash mid-
          // compaction leaves fully-old or fully-new files (atomic swap)
          // and the marker already records the batch as done either way —
          // the replay guard's semantics are untouched
          cfg.compactEveryBatches.foreach { n =>
            if (n > 0 && batchId % n == n - 1) compactIngestTables()
          }
        }
        ()
      }
      .start()
    // release the leases when the query terminates (stop() or failure),
    // so a successor writer starts immediately instead of waiting out
    // the TTL. Registered after start() — the id exists then; if the
    // query could somehow terminate before registration, the TTL expiry
    // is the (best-effort) fallback
    val qId = query.id
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == qId) {
          releaseOwnedLeases()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    query
  }

  /** Bin-pack each ingest table's small-file tail into ~128 MB parquet
    * files (the same order as a scan's split target, so post-compaction
    * reads get full-sized partitions). Incremental: files at or above
    * `cfg.compactSmallBytes` were packed by an earlier cadence and are
    * carried across by metadata-only renames — per-cadence I/O is
    * proportional to the batches appended since the last compaction, not
    * to the table, so triggers never stall behind an O(corpus) rewrite
    * (pinned by StreamingIngestSpec's zero-rewrite case). Runs between
    * streamed batches under the single-writer contract: fully-old or
    * fully-new on crash; a concurrent EXTERNAL reader may transiently
    * fail inside the swap's rename window (retryable).
    */
  private def compactIngestTables(): Unit =
    ownedTables.foreach { case (table, parts) =>
      val enabled = cfg.flagNearDups ||
        (table != "minhash_bands" && table != "near_dup_flags")
      if (enabled && tables.exists(table)) {
        // [EXT] stats-manifest declaration for the serving-read columns,
        // piggybacked on the compaction cadence (the stream lifecycle
        // the manifest exists for — maxId runs every trigger and the
        // DocumentStore point reads prune on id/document_id, and a
        // manifest makes their footer pass O(appends since this
        // cadence)). Upgrade-aware: a table declared in an earlier
        // lifetime with a SUBSET of the wanted columns (rounds ≤11
        // declared only `id`) is re-declared with the union, preserving
        // any extra operator-declared columns. Declared WITHOUT an
        // immediate refresh: compactIncremental rebuilds the manifest
        // right below. Advisory — a failure here must never fail the
        // cadence
        StatsDeclarations.get(table).foreach { want =>
          val declared = tables.getTableProp(table, "stats_cols").toSeq
            .flatMap(_.split(",").toSeq)
            .flatMap(_.split(":", 2).headOption).filter(_.nonEmpty)
          if (!want.forall(declared.contains))
            try tables.declareStatsColumns(table,
              (declared ++ want).distinct, refresh = false)
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[ingest] stats-manifest declare skipped for $table: ${e.getMessage}")
            }
        }
        tables.compactIncremental(table, smallThreshold = cfg.compactSmallBytes,
          partitionCols = parts,
          sortCols = ClusterKeys.getOrElse(table, Nil))
        ()
      }
    }

  /** The stats-manifest columns each owned table maintains: `id` feeds
    * the SERIAL allocator's footer pass (maxId, every trigger) and the
    * documents point read; `document_id` feeds the child-table serving
    * reads (getChunks/getCharts — the reference's FK index,
    * schema.py:14). `doc_bucket` is deliberately absent: it is a hive
    * PARTITION column, which the reads resolve from directory names with
    * no manifest at all.
    */
  private val StatsDeclarations: Map[String, Seq[String]] = Map(
    "documents"       -> Seq("id"),
    "document_chunks" -> Seq("id", "document_id"),
    "chart_data"      -> Seq("id", "document_id"))

  /** Wall-clock a named sub-phase into [[onPhase]] — the attribution the
    * bench's phases map surfaces, so a storage change shows up against
    * the stage it actually cost instead of one 87%-of-probe blob (the
    * round-11 lesson: ids + 3 table writes + blob puts + stats drifted
    * together unattributed).
    */
  private def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally onPhase(name, (System.nanoTime() - t0) / 1e9)
  }

  /** Core of E8 (pdf_parser.py:201-253) over one batch of binary rows. */
  def ingestBinary(bin: DataFrame, now: Timestamp): IngestStats = {
    val chunkerCfg = cfg.chunker
    val imageScale = cfg.imageScale

    // [EXT] content-hash dedup: drop batch rows whose sha-256 is already
    // stored (in metainfo) or duplicated within the batch (keep first by
    // path). Left-anti against the existing hashes keeps this a slim join.
    val deduped =
      if (!cfg.dedupByContent) bin
      else {
        val hashed = bin.withColumn("_sha", sha2(col("content"), 256))
        val firstPerSha = Window.partitionBy(col("_sha")).orderBy(col("path"))
        val inBatchFirst = hashed
          .withColumn("_rn", row_number().over(firstPerSha))
          .filter(col("_rn") === 1).drop("_rn")
        val existing =
          if (!tables.exists("documents")) inBatchFirst
          else inBatchFirst.join(
            tables.read("documents")
              .select(get_json_object(col("metainfo"), "$.content_sha").as("_sha"))
              .filter(col("_sha").isNotNull).distinct(),
            Seq("_sha"), "left_anti")
        existing
      }

    // E1 -> E2 -> E4/E7 -> E5/E6, all inside one per-document map: every
    // chart renders here, once, spread over the scan's file partitions.
    // The eager checkpoint truncates the lineage: the downstream appends
    // must never re-evaluate the dedup anti-join against the documents
    // table, which this very batch is about to append to — a lazy plan
    // would re-read the table post-append and drop the batch's own rows
    // from later stages.
    val tParse = System.nanoTime()
    val (parsed, releaseParsed) = graft.ops.LocalCheckpoint(
      Parse.parseDocuments(deduped, mkParser).map { doc =>
        val chunks = Chunker.chunk(doc, chunkerCfg).map { c: TextChunk =>
          ChunkData(c.chunkIndex, c.serialized, c.tokenCount,
            Ner.extract(c.serialized)) // NER on enriched text (pdf_parser.py:222)
        }.sortBy(_.chunkIndex)
        // per-element failure isolation lives in extractCharts: a chart
        // that fails to render is dropped, and ids stay dense over the rest
        val charts = Images.extractCharts(doc, imageScale)
          .map(p => ChartData(p.chartType, p.typeIndex, p.level, p.caption, p.png))
          .sortBy(c => (c.chartType, c.typeIndex))
        DocWithChunks(doc, chunks, charts)
      })
    onPhase("parse_chunk_ner", (System.nanoTime() - tParse) / 1e9)

    val tWrites = System.nanoTime()
    val toUnpersist = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      // ---- every id of the batch from ONE prefix-sum pass over the
      // documents in path order (SERIAL replacement, SURVEY §7.4.2):
      // `_rank` counts the documents before this one, `_chunk_base` and
      // `_chart_base` their chunks and charts. Then
      //   document id = maxId(documents) + rank + 1
      //   chunk id    = maxId(document_chunks) + chunkBase + pos + 1
      //   chart id    = maxId(chart_data) + chartBase + pos + 1
      // where pos is the chunk's (chart's) place in its sorted array —
      // the same ids as global row_numbers over (path), (document_id,
      // chunk_index) and (document_id, chart_type, type_index), without
      // funnelling the batch through one task. The totals are the stats.
      // All three bases are read here, before any write or delete.
      val (docsWithId, totals) = timed("ids_docs") {
        val (stamped, sums) = graft.ops.GlobalOrder.prefixSumsOf(parsed.toDF(),
          Seq(col("doc.path")), Seq("_rank" -> lit(1L),
            "_chunk_base" -> size(col("chunks")), "_chart_base" -> size(col("charts"))))
        val withId = stamped.withColumn("id",
          lit(tables.maxId("documents", "id")) + col("_rank") + 1L).persist()
        toUnpersist += withId
        (withId, sums)
      }

      // ---- documents table (schema.py:26-44; metainfo shape main.py:72-76)
      val nowLit = lit(now)
      val docRows = docsWithId.select(
        col("id"),
        col("doc.filename").as("filename"),
        size(col("chunks")).as("total_chunks"), // repository.py:22
        to_json(struct(
          col("doc.pageCount").as("page_count"),
          col("doc.fileSize").as("file_size"),
          date_format(nowLit, "yyyy-MM-dd HH:mm:ss").as("extraction_date"),
          col("doc.contentSha").as("content_sha")
        )).as("metainfo"),
        nowLit.as("created_at"),
        nowLit.as("updated_at"))

      // ---- document_chunks table (schema.py:11-24), one task per bucket
      // so an append writes one file per bucket dir, not one per
      // (stamping partition, bucket)
      val chunkRows = timed("ids_chunks") {
        val baseChunkId = tables.maxId("document_chunks", "id")
        docsWithId
          .select(col("id").as("document_id"), col("_chunk_base"),
            posexplode(col("chunks")).as(Seq("pos", "c")))
          .select(
            (lit(baseChunkId) + col("_chunk_base") + col("pos") + 1L).as("id"),
            col("document_id"),
            col("c.chunkIndex").as("chunk_index"),
            col("c.text").as("text_content"),
            to_json(col("c.entities")).as("entities"),
            to_json(struct(col("c.tokenCount").as("token_count"))).as("chunk_metadata"),
            nowLit.as("created_at"))
          .withColumn("doc_bucket",
            IngestPipeline.chunkBucket(col("document_id"), effectiveChunkBuckets))
          .repartition(col("doc_bucket"))
      }

      // ---- chart payloads (E5/E6), rendered in the parse pass
      val chartsWithId = timed("ids_charts") {
        val baseChartId = tables.maxId("chart_data", "id")
        docsWithId
          .select(col("id").as("document_id"), col("_chart_base"),
            posexplode(col("charts")).as(Seq("pos", "c")))
          .select(
            (lit(baseChartId) + col("_chart_base") + col("pos") + 1L).as("id"),
            col("document_id"),
            col("c.chartType").as("chart_type"),
            col("c.typeIndex").as("type_index"),
            col("c.level").as("level"),
            col("c.caption").as("caption"),
            col("c.png").as("png"))
          .withColumn("image_path",
            format_string("documents/%d/charts/%d.png", col("document_id"), col("id")))
      }

      // info JSON (pdf_parser.py:152-160,172-180)
      val chartRows = chartsWithId.select(
        col("id"), col("document_id"),
        to_json(struct(
          col("chart_type").as("type"),
          col("type_index").as("index"),
          col("image_path"),
          struct(col("level"), col("caption")).as("metadata"))).as("info"),
        col("image_path"),
        nowLit.as("created_at"))

      // ---- [EXT] replaceByFilename: cascade-delete the PREVIOUS
      // generation of every filename in this batch before its
      // replacement appends. All three dense-id bases were captured
      // above, PRE-delete, so a replaced document's ids are never reused
      // — the band index and any external id reference stay unambiguous.
      // Driver state here is batch-sized (the file source already lists
      // the batch's paths on the driver). Deletes run through the pruned
      // copy-on-write rewrites; a crash mid-cascade is recoverable
      // per-table (atomic swaps) and the un-markered batch replays,
      // converging on the replaced state.
      val docRowsFinal =
        if (!cfg.replaceByFilename || !tables.exists("documents")) docRows
        else {
          val names = docsWithId.select(col("doc.filename")).distinct()
            .as[String].collect().toSeq
          // eager collect, not a lazy frame: every later use must see the
          // PRE-delete table
          val oldRows =
            if (names.isEmpty) Array.empty[org.apache.spark.sql.Row]
            else tables.read("documents")
              .filter(col("filename").isInCollection(names))
              .select(col("id"), col("filename"), col("created_at"))
              .collect()
          if (oldRows.isEmpty) docRows
          else {
            // null-proof against foreign/legacy rows: a null id can't be
            // referenced by child tables (skip it in the cascade), and a
            // null created_at just doesn't contribute an original
            // timestamp — neither may abort the batch mid-cascade
            val oldIds = oldRows.filter(!_.isNullAt(0))
              .map(_.getLong(0)).toSeq.distinct
            tables.deleteWhere("documents",
              col("filename").isInCollection(names))
            if (tables.exists("document_chunks"))
              tables.deleteWhere("document_chunks",
                col("document_id").isInCollection(oldIds), Seq("doc_bucket"))
            if (tables.exists("chart_data"))
              tables.deleteWhere("chart_data",
                col("document_id").isInCollection(oldIds))
            // a replaced document's band rows would otherwise flag its own
            // replacement as a near-duplicate of a row that no longer
            // exists; flags referencing it on either side go too
            if (tables.exists("minhash_bands"))
              tables.deleteWhere("minhash_bands",
                col("doc_id").isInCollection(oldIds))
            if (tables.exists("near_dup_flags"))
              tables.deleteWhere("near_dup_flags",
                col("new_id").isInCollection(oldIds) ||
                  col("indexed_id").isInCollection(oldIds))
            // the replacement keeps the ORIGINAL created_at (earliest, if
            // pre-replace history held duplicates) — the reference's
            // created-once/updated-now pair (schema.py:33-37)
            val orig = oldRows
              .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
              .map(r => (r.getString(1), r.getTimestamp(2)))
              .groupBy(_._1)
              .map { case (f, xs) => (f, xs.minBy(_._2.getTime)._2) }
              .toSeq.toDF("filename", "_orig_created")
            docRows.join(broadcast(orig), Seq("filename"), "left")
              .select(col("id"), col("filename"), col("total_chunks"),
                col("metainfo"),
                coalesce(col("_orig_created"), col("created_at"))
                  .as("created_at"),
                col("updated_at"))
          }
        }

      // ---- persist: rows first (S10), then blobs, then chart rows (S12) —
      // blob-before-row ordering replicates the reference's failure mode
      // (orphan blobs possible, dangling rows never — SURVEY §7.4.4).
      timed("write_documents") { tables.append("documents", docRowsFinal) }
      timed("write_chunks") {
        tables.appendPartitioned("document_chunks", chunkRows, Seq("doc_bucket"),
          rowCount = Some(totals(1)))
        // persist the bucketing convention WITH the table so any reader
        // (other sessions included) derives the right bucket predicate
        if (tables.exists("document_chunks"))
          tables.setTableProp("document_chunks", "buckets", effectiveChunkBuckets.toString)
      }
      timed("blob_puts") {
        objects.putAll(chartsWithId.select(col("image_path").as("key"), col("png").as("content")))
      }
      timed("write_charts") { tables.append("chart_data", chartRows) }


      // ---- [EXT] incremental near-dup flags. Candidates come from the
      // PRE-BATCH index (a batch never flags against itself — within-batch
      // duplicates are dedupByContent's job); the batch's own bands join
      // the index last. Ordering matters for crash safety: the index is
      // written only AFTER the documents rows, so a crash can at worst
      // UNDER-flag (docs stored, bands missing) — never leave ghost band
      // rows whose ids a later dense-id batch would reuse, which would
      // both suppress genuine candidates (new_id = indexed_id) and point
      // flags at the wrong documents.
      if (cfg.flagNearDups) timed("near_dup_index") {
        val newDocsText = docsWithId.select(col("id"), col("doc.elements"))
          .as[(Long, Seq[graft.model.DocElement])]
          .map { case (id, els) =>
            (id, els.filter(_.elemType == "text").map(_.text).mkString(" "))
          }
          .toDF("doc_id", "text")
        // computed ONCE, cached: both the candidate join and the index
        // append consume it (lineage recompute would re-shingle and
        // re-sign every document a second time)
        val newBands = graft.ext.Dedup
          .minhashBands(newDocsText, "doc_id", "text").persist()
        toUnpersist += newBands
        if (tables.exists("minhash_bands")) {
          val flags = graft.ext.Dedup.minhashCandidatesFromBands(
            newBands, tables.read("minhash_bands"))
            .withColumn("created_at", nowLit)
          tables.append("near_dup_flags", flags)
        }
        tables.append("minhash_bands", newBands)
      }

      // stats are the id pass's totals — no extra jobs here. The
      // aggregate ids_writes_stats phase stays for cross-round
      // continuity: its value should ≈ the sum of the sub-phases, and the
      // residual is unattributed driver time.
      val stats = IngestStats(documents = totals(0), chunks = totals(1), charts = totals(2))
      onPhase("ids_writes_stats", (System.nanoTime() - tWrites) / 1e9)
      stats
    } finally {
      // release everything stored for this batch — a long-running stream
      // calls ingestBinary every trigger and leaked blocks (especially the
      // PNG payloads) would fill executor storage
      toUnpersist.foreach(_.unpersist())
      releaseParsed()
    }
  }
}
