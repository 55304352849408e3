package graft.serve

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{ObjectStore, TableStore}

/** §2.12 — the engine's public query surface, mirroring the reference's
  * repository/REST layer as DataFrame-returning functions:
  *
  * | method                | reference                              |
  * |-----------------------|----------------------------------------|
  * | listDocuments         | GET /documents (api.py:87-104)         |
  * | getDocument           | GET /documents/{id} (api.py:106-147)   |
  * | getChunks             | GET /documents/{id}/chunks (api.py:149-172) |
  * | getCharts             | GET /documents/{id}/charts (api.py:174-195) |
  * | getChartWithImage     | GET /documents/{id}/charts/{chart_id} (api.py:197-215) |
  * | updateDocumentMetainfo| update-by-PK (base.py:38-52)           |
  * | deleteDocument        | cascade delete (base.py:54-66, schema.py:43-44) |
  * | deleteChart           | row+blob delete (repository.py:169-187) |
  *
  * Serving-plan notes: the single-document queries filter on the parquet
  * scan (predicate pushdown does the PK "index lookup"); the nested detail
  * query re-nests children with sort_array(collect_list(struct(...))) —
  * the app-side `sorted(...)` at repository.py:66 moved into the engine.
  * A single-document read is bounded by ONE document's rows (its row, its
  * chunks, its charts — never a corpus), so it reads them as one
  * partition ([[onePartition]]). Over a single-partition child the
  * planner's own `orderBy` and the nesting `groupBy` need no exchange and
  * the joins hash locally instead of broadcasting: each such read runs as
  * exactly one Spark job.
  *
  * No read generates per-key code: the key reaches the post-scan filter
  * as a parameter ([[graft.plans.ParameterizeLiterals]]), so after the
  * first read of each shape, reads on new keys compile nothing. The
  * scans still prune on the plain key.
  */
final class DocumentStore(
    spark: SparkSession,
    tables: TableStore,
    objects: ObjectStore) {

  /** Bucket count travels with the table (`_graft_buckets` marker written
    * at ingest); session conf is the fallback for marker-less tables.
    * The marker is write-once per APPEND lifetime, but a full-table
    * REWRITE under a new modulus is a legitimate operation — so a found
    * marker is cached with a TTL (`spark.graft.bucketMarkerTtlMs`,
    * default 30 s), not forever: the hot serving path amortizes the
    * sidecar read (on an object store that is metadata round-trips per
    * GET) while a re-bucket during server lifetime is picked up within
    * one TTL window instead of pruning against the dead modulus and
    * returning silently empty results. Until a marker exists
    * (pre-first-batch), every call re-checks so the store picks the
    * marker up the moment ingest writes it.
    */
  @volatile private var cachedBuckets: Option[(Int, Long)] = None
  private def chunkBuckets: Int = {
    val nowMs = System.currentTimeMillis()
    val ttlMs = spark.conf.get("spark.graft.bucketMarkerTtlMs", "30000").toLong
    cachedBuckets match {
      case Some((b, at)) if nowMs - at < ttlMs => b
      case _ =>
        val marker = tables.getTableProp("document_chunks", "buckets").map(_.toInt)
        cachedBuckets = marker.map(b => (b, nowMs))
        marker.getOrElse(spark.conf.get("spark.graft.chunkBuckets", "16").toInt)
    }
  }

  private val DocDdl =
    "id BIGINT, filename STRING, total_chunks INT, metainfo STRING, " +
      "created_at TIMESTAMP, updated_at TIMESTAMP"
  private val ChunkDdl =
    "id BIGINT, document_id BIGINT, chunk_index INT, text_content STRING, " +
      "entities STRING, chunk_metadata STRING, created_at TIMESTAMP, " +
      "doc_bucket BIGINT"
  private val ChartDdl =
    "id BIGINT, document_id BIGINT, info STRING, image_path STRING, " +
      "created_at TIMESTAMP"

  private def emptyDf(ddl: String): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  // a store can legitimately be queried before its first batch commits
  // (HttpShim starts with the stream) — a missing table is an EMPTY
  // table to the serving surface (api.py returns 200 [] / 404 there),
  // never a 500 from a nonexistent path
  private def readOr(table: String, ddl: String): DataFrame =
    if (tables.exists(table)) tables.read(table) else emptyDf(ddl)

  def documents: DataFrame = readOr("documents", DocDdl)
  def chunks: DataFrame = readOr("document_chunks", ChunkDdl)
  def charts: DataFrame = readOr("chart_data", ChartDdl)

  /** Stats-pruned single-key read: the serving analogue of the
    * reference's PK/FK index scan (api.py:106-147 → a Postgres index
    * lookup). A plain `read(table).filter(key === v)` pushes the
    * predicate into every scan task, but still PLANS a task and opens a
    * footer for every file of the table — at corpus scale the hottest
    * endpoint would schedule ~800k tasks to return one row. `readRange`
    * prunes the FILE LIST first (manifest-covered footer min/max — the
    * ingest declares id/document_id at its compaction cadence), so the
    * plan is O(matched files). Exactness is readRange's contract: the
    * row filter always applies, unusable stats are scanned.
    */
  private def prunedEq(table: String, ddl: String,
                       column: String, v: Long): DataFrame =
    onePartition(
      if (tables.exists(table)) tables.readRange(table, column, v, v)
      else emptyDf(ddl))

  /** One document's rows as ONE partition — only ever applied to a read
    * keyed by a single document, so the partition holds that document's
    * rows and never grows with the corpus. A narrow coalesce: no shuffle,
    * and its single-partition output satisfies every distribution the
    * sorts, aggregates and joins above it require.
    */
  private def onePartition(df: DataFrame): DataFrame = df.coalesce(1)

  /** One document's chunks as a two-tier pruned read: the doc_bucket
    * conjunct prunes to 1-of-N hive partition DIRECTORIES from the
    * directory names alone (SURVEY §7.4.7 — the bucket is derived
    * driver-side by the scalar mirror of the ingest's bucket column),
    * and the document_id conjunct prunes the surviving files by footer
    * min/max. Must use the same bucket count as the ingest config.
    */
  private def chunksOf(documentId: Long): DataFrame =
    if (!tables.exists("document_chunks")) emptyDf(ChunkDdl)
    else {
      val b = graft.pipeline.IngestPipeline
        .chunkBucketScalar(documentId, chunkBuckets)
      onePartition(tables.readRangeAll("document_chunks",
        Seq(("doc_bucket", b, b), ("document_id", documentId, documentId))))
    }

  /** S6+P1 — paginated listing, defaults per base.py:31. */
  def listDocuments(skip: Int = 0, limit: Int = 100): DataFrame =
    documents
      .select("id", "filename", "total_chunks", "metainfo", "created_at", "updated_at")
      .orderBy("id").offset(skip).limit(limit)

  /** [EXT] Keyset pagination — the deep-pagination scale path. OFFSET
    * pagination (the reference's base.py:31 shape, [[listDocuments]])
    * must compute the top `skip + limit` rows over the WHOLE table to
    * discard the first `skip`: page 10,000 of a corpus-scale listing
    * scans everything before it. Anchoring on the last seen id instead
    * turns every page into the same stats-pruned read as a point lookup
    * — files whose footer max ≤ `afterId` never plan, so page N costs
    * O(files past the anchor), constant-ish per page on an id-clustered
    * (SERIAL-appended) table. Pages are gap-proof and stable under
    * concurrent appends with increasing ids — the anchor is a VALUE,
    * not a row count.
    */
  def listDocumentsAfter(afterId: Long, limit: Int = 100): DataFrame =
    (if (afterId == Long.MaxValue || !tables.exists("documents")) emptyDf(DocDdl)
     else tables.readRange("documents", "id", afterId + 1, Long.MaxValue))
      .select("id", "filename", "total_chunks", "metainfo", "created_at", "updated_at")
      .orderBy("id").limit(limit)

  /** [EXT] Batch point lookup — the "hydrate these N documents" read a
    * training pipeline issues constantly (join results, curation queues,
    * eval samples). One stats-pruned [[graft.store.TableStore.readIn]]
    * pass: k scattered ids plan O(k) files on a clustered table, not one
    * scan per id and not the whole table.
    */
  /** Existence probe (the 404 guard behind child routes, api.py:110-112)
    * through the same pruned plan as the point reads.
    */
  def documentExists(id: Long): Boolean =
    !prunedEq("documents", DocDdl, "id", id).limit(1).isEmpty

  /** [EXT] Batch chunk hydration — the chunks of N documents in ONE
    * two-tier pruned read: the doc_bucket conjunct prunes to the ids'
    * bucket DIRECTORIES from dir names alone, the document_id conjunct
    * prunes the survivors by footer band. The dataloader shape ("the
    * text of this training batch") at O(matched files), not N separate
    * queries and not a table scan.
    */
  def getChunksForDocuments(documentIds: Seq[Long]): DataFrame =
    if (documentIds.isEmpty || !tables.exists("document_chunks")) emptyDf(ChunkDdl)
    else {
      val b = chunkBuckets
      val buckets = documentIds
        .map(graft.pipeline.IngestPipeline.chunkBucketScalar(_, b)).distinct
      tables.readInAll("document_chunks",
        Seq(("doc_bucket", buckets), ("document_id", documentIds)))
        .orderBy("document_id", "chunk_index")
    }

  def getDocuments(ids: Seq[Long]): DataFrame =
    if (ids.isEmpty || !tables.exists("documents")) emptyDf(DocDdl)
    else tables.readIn("documents", "id", ids)
      .select("id", "filename", "total_chunks", "metainfo", "created_at", "updated_at")
      .orderBy("id")

  /** S7+J1+J2+O2 — one document with ordered nested chunks and charts
    * (repository.py:45-80). All three inputs are single-partition reads,
    * so the `shuffle_hash` hints make both joins local hash joins: the
    * size-based default would broadcast the one-row sides, and every
    * broadcast is a Spark job of its own.
    */
  def getDocument(id: Long): DataFrame = {
    val doc = prunedEq("documents", DocDdl, "id", id)
    val nestedChunks = chunksOf(id)
      .groupBy("document_id")
      .agg(sort_array(collect_list(struct(
        col("chunk_index"), col("text_content"), col("entities"),
        col("chunk_metadata"), col("created_at")))).as("chunks"))
    val nestedCharts = prunedEq("chart_data", ChartDdl, "document_id", id)
      .groupBy("document_id")
      .agg(collect_list(struct(
        col("id").as("chart_id"), col("info"), col("image_path"),
        col("created_at"))).as("charts"))
    doc
      .join(nestedChunks.hint("shuffle_hash"),
        col("id") === nestedChunks("document_id"), "left_outer")
      .join(nestedCharts.hint("shuffle_hash"),
        col("id") === nestedCharts("document_id"), "left_outer")
      .select(doc("id"), col("filename"), col("total_chunks"), col("metainfo"),
        doc("created_at"), col("updated_at"),
        coalesce(col("chunks"), array()).as("chunks"),
        coalesce(col("charts"), array()).as("charts"))
  }

  /** F2+F3+O1+P2 — chunk range query, bounds individually optional
    * (repository.py:86-105).
    */
  def getChunks(documentId: Long, startChunk: Option[Int] = None,
                endChunk: Option[Int] = None): DataFrame =
    chunkRange(documentId, startChunk, endChunk).orderBy("chunk_index")
      .select(ChunkFields.map(col): _*)

  private val ChunkFields =
    Seq("chunk_index", "text_content", "entities", "chunk_metadata", "created_at")

  private def chunkRange(documentId: Long, startChunk: Option[Int],
                         endChunk: Option[Int]): DataFrame = {
    var df = chunksOf(documentId)
    startChunk.foreach(s => df = df.filter(col("chunk_index") >= s))
    endChunk.foreach(e => df = df.filter(col("chunk_index") <= e))
    df
  }

  /** S7+J2+P3+F5 — charts of one document (api.py:174-195). */
  def getCharts(documentId: Long): DataFrame =
    prunedEq("chart_data", ChartDdl, "document_id", documentId)
      .orderBy("id")
      .select(ChartFields.map(col): _*)

  private val ChartFields = Seq("id", "info", "image_path", "created_at")

  /** [[getChunks]] with the route's 404 guard (api.py:110-112) folded
    * into the read: None when the document does not exist, else the
    * range's rows as the JSON objects `getChunks(...).toJSON` yields.
    */
  def getChunksJson(documentId: Long, startChunk: Option[Int] = None,
                    endChunk: Option[Int] = None): Option[Seq[String]] =
    ofDocument(documentId, chunkRange(documentId, startChunk, endChunk),
      "chunk_index", ChunkFields)

  /** [[getCharts]] with the route's 404 guard folded in, as
    * [[getChunksJson]].
    */
  def getChartsJson(documentId: Long): Option[Seq[String]] =
    ofDocument(documentId,
      prunedEq("chart_data", ChartDdl, "document_id", documentId), "id",
      ChartFields)

  /** One document's child rows (`children`, keyed by `document_id`) as
    * JSON objects ordered by `order`, or None when the document is
    * absent — in ONE job instead of an existence probe plus a read: the
    * document's row left-joined to its children. No row means no
    * document; one row with no child means a document without children
    * (`200 []`). All inputs are single-partition reads, so the join is
    * local and the sort needs no exchange.
    */
  private def ofDocument(documentId: Long, children: DataFrame, order: String,
                         fields: Seq[String]): Option[Seq[String]] = {
    // distinct, not limit(1): an in-stage limit names its counter field
    // from a JVM-wide sequence, which makes every plan compile anew
    val doc = prunedEq("documents", DocDdl, "id", documentId)
      .select(col("id").as("_doc")).distinct()
    val rows = doc
      .join(children.hint("shuffle_hash"),
        col("_doc") === children("document_id"), "left_outer")
      .orderBy(children(order))
      .select(when(children("document_id").isNotNull,
        to_json(struct(fields.map(children(_)): _*))))
      .collect().map(_.getString(0))
    if (rows.isEmpty) None else Some(rows.filter(_ != null).toSeq)
  }

  /** S7+J3+F5 — one chart row joined with its object-store blob by the
    * composite key (repository.py:142-167); None when the chart is absent
    * or owned by a different document (the 404 guard, api.py:205-209).
    */
  def getChartWithImage(documentId: Long, chartId: Long): Option[(Row, Array[Byte], String)] = {
    // ownership is part of the KEY, not a post-hoc check: filtering by id
    // alone + limit(1) could pick the wrong row if duplicate chart ids
    // ever exist (the defect state Audit.chart_ids_duplicated watches
    // for) and 404 a chart that is actually present. Both conjuncts are
    // manifest columns, so the read prunes to the files straddling BOTH
    val rows = onePartition(if (tables.exists("chart_data"))
        tables.readRangeAll("chart_data", Seq(
          ("id", chartId, chartId), ("document_id", documentId, documentId)))
      else emptyDf(ChartDdl)).limit(1).collect()
    rows.headOption
      .flatMap { row =>
        objects.get(objects.chartKey(documentId, chartId))
          .map { case (bytes, contentType) => (row, bytes, contentType) }
      }
  }

  /** M1 — patch metainfo by id; bumps updated_at (schema.py:33-37). */
  def updateDocumentMetainfo(id: Long, metainfo: String, now: Timestamp): Unit =
    tables.updateWhere("documents", col("id") === id,
      Map("metainfo" -> lit(metainfo), "updated_at" -> lit(now)))

  /** M2 — cascade delete (schema.py:43-44): chart rows, chunk rows, the
    * document row, the near-dup index rows, and LAST the chart blobs —
    * rows strictly before blobs, so a failure anywhere leaves at worst
    * orphan BLOBS (the mode the engine already tolerates and Audit
    * surfaces as informational) and never dangling rows pointing at
    * deleted blobs (SURVEY §7.4.4 invariant). The near-dup cascade keeps
    * Audit's bands_dangling/flags_dangling clean after routine deletes
    * and stops future batches flagging against documents that no longer
    * exist.
    */
  def deleteDocument(id: Long): Unit = {
    val chartIds = prunedEq("chart_data", ChartDdl, "document_id", id)
      .select("id").collect().map(_.getLong(0))
    if (tables.exists("chart_data"))
      tables.deleteWhere("chart_data", col("document_id") === id)
    if (tables.exists("document_chunks"))
      tables.deleteWhere("document_chunks", col("document_id") === id,
        partitionCols = Seq("doc_bucket"))
    if (tables.exists("documents"))
      tables.deleteWhere("documents", col("id") === id)
    if (tables.exists("minhash_bands"))
      tables.deleteWhere("minhash_bands", col("doc_id") === id)
    if (tables.exists("near_dup_flags"))
      tables.deleteWhere("near_dup_flags",
        col("new_id") === id || col("indexed_id") === id)
    chartIds.foreach(cid => objects.delete(objects.chartKey(id, cid)))
  }

  /** M3 — delete one chart row + its blob, row first (repository.py:
    * 169-187; same rows-before-blobs ordering as [[deleteDocument]]).
    */
  /** [EXT] Operational summary of one backing table — the dashboard the
    * corpus operator polls ([[graft.store.TableStore.tableReport]]:
    * metadata-only, one listing + one sidecar read, no Spark job — so
    * exposing it on the serving surface is safe at any poll rate).
    */
  def tableReport(table: String): graft.store.TableReport =
    tables.tableReport(table)

  /** Whether the backing table exists (the ops route's 404 discriminator
    * — an existing-but-empty table reports zeros, a never-created one
    * 404s).
    */
  def tableExists(table: String): Boolean = tables.exists(table)

  /** The store's table names, mid-swap-absent ones included. One root
    * listing upstream.
    */
  def listTables(): Seq[String] = tables.listTables()

  /** [EXT] Every table's report — the ops index (`GET /ops/tables`).
    * ONE recursive root walk shared across all tables
    * ([[graft.store.TableStore.storageReportAll]]), so the poll cost is
    * O(1) listings regardless of table count.
    */
  def storageReportAll(): Seq[graft.store.TableReport] =
    tables.storageReportAll()

  def deleteChart(documentId: Long, chartId: Long): Boolean = {
    val owned = tables.exists("chart_data") &&
      onePartition(tables.readRangeAll("chart_data", Seq(
        ("id", chartId, chartId), ("document_id", documentId, documentId))))
        .limit(1).collect().nonEmpty
    if (owned) {
      tables.deleteWhere("chart_data",
        col("id") === chartId && col("document_id") === documentId)
      objects.delete(objects.chartKey(documentId, chartId))
    }
    owned
  }
}
