package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.etl.ChunkerConfig
import graft.serve.DocumentStore
import graft.store.{ObjectStore, TableStore}

/** t1 smoke — the reference's executable demo scenario
  * (repository.py:191-371) ported end-to-end: ingest two documents, read
  * one back with nested ordered chunks + charts, run the chunk range
  * query (expect exactly 2 chunks for 0..1 — repository.py:357-362),
  * patch metainfo, then cascade-delete and verify zero orphans
  * (repository.py:364-367).
  */
class IngestDocStoreSpec extends AnyFunSuite with SharedSpark {

  private val now = Timestamp.valueOf("2026-01-15 08:30:00")

  private def writeDoc(dir: String, name: String, body: String): Unit =
    Files.write(Paths.get(dir, name), body.getBytes(StandardCharsets.UTF_8))

  private def fixture(root: String = tmpDir("store"))
      : (DocumentStore, TableStore, ObjectStore, IngestStats) = {
    val inbox = tmpDir("inbox")
    // three sections of ~12 tokens each; minTokens=10 forces a chunk per
    // section -> 3 chunks, mirroring the reference fixture's 3 chunks
    writeDoc(inbox, "lalalal1.pdf",
      """Executive Summary:
        |This report analyzes the performance of TechCorp Inc during the recent quarter overall.
        |
        |Market Analysis:
        |The technology sector in Silicon Valley has shown strong growth again this year.
        |TABLE: Quarterly revenue by segment
        |
        |Financial Results:
        |Q4 2023 showed strong growth in revenue and profit margin across all units.
        |FIGURE: Growth trend line
        |""".stripMargin)
    writeDoc(inbox, "other2.pdf",
      "Notes:\nShort memo text only here.\n")
    val tables = new TableStore(spark, s"$root/tables")
    val objects = new ObjectStore(spark, s"$root/bucket")
    val pipe = new IngestPipeline(spark, tables, objects,
      ProcessingConfig(chunker = ChunkerConfig(minTokens = 10, maxTokens = 2000)))
    val stats = pipe.ingest(inbox, now)
    (new DocumentStore(spark, tables, objects), tables, objects, stats)
  }

  test("fileGlob widens the inbox filter beyond the reference's *.pdf") {
    val inbox = tmpDir("inbox-glob")
    writeDoc(inbox, "keep.txt", "Title:\nA text corpus document with plenty of words here.\n")
    writeDoc(inbox, "skip.pdf", "Other:\nThis pdf must be ignored under the txt glob.\n")
    val root = tmpDir("store-glob")
    val tables = new TableStore(spark, s"$root/tables")
    val pipe = new IngestPipeline(spark, tables,
      new ObjectStore(spark, s"$root/bucket"),
      ProcessingConfig(fileGlob = "*.txt",
        chunker = ChunkerConfig(minTokens = 5, maxTokens = 2000)))
    val stats = pipe.ingest(inbox, now)
    assert(stats.documents == 1)
    val names = tables.read("documents").select("filename")
      .collect().map(_.getString(0)).toSet
    assert(names == Set("keep.txt"))
  }

  test("a custom DocParser plugs into the pipeline (codec boundary)") {
    import graft.etl.Parse
    import graft.model.{DocElement, ParsedDoc}
    // a trivial production-shaped parser: whole payload becomes one text
    // element, proving the factory wiring reaches the executors
    class OneBlockParser extends Parse.DocParser {
      override def parse(path: String, content: Array[Byte]): ParsedDoc = {
        val text = new String(content, StandardCharsets.UTF_8)
        ParsedDoc(path, path.split('/').last, 1, content.length.toLong,
          "x" * 64, Seq(DocElement("text", 0, null, text.trim, 1)))
      }
    }
    val inbox = tmpDir("inbox-custom")
    writeDoc(inbox, "memo.pdf", "Alpha beta gamma delta epsilon words " +
      "enough to make one chunk of ten tokens easily.")
    val root = tmpDir("store-custom")
    val tables = new TableStore(spark, s"$root/tables")
    val objects = new ObjectStore(spark, s"$root/bucket")
    val pipe = new IngestPipeline(spark, tables, objects,
      ProcessingConfig(chunker = ChunkerConfig(minTokens = 5, maxTokens = 2000)),
      mkParser = () => new OneBlockParser)
    val stats = pipe.ingest(inbox, now)
    assert(stats.documents == 1)
    // the custom parser produced no table/figure elements -> no charts
    assert(stats.charts == 0)
  }

  test("end-to-end ingest -> nested read -> range query -> update -> cascade delete") {
    val (store, tables, objects, stats) = fixture()
    assert(stats.documents == 2)
    assert(stats.charts == 2) // one table + one figure element

    // listing (S6+P1) is ordered and paginated
    val listed = store.listDocuments(0, 100).collect()
    assert(listed.length == 2)
    val doc1 = listed.find(_.getAs[String]("filename") == "lalalal1.pdf").get
    val id1 = doc1.getAs[Long]("id")
    assert(doc1.getAs[Int]("total_chunks") == 3) // A1 denormalized count

    // nested detail (S7+J1+J2+O2): chunks sorted by ordinal, charts present
    val detail = store.getDocument(id1).collect().head
    val chunks = detail.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("chunks")
    assert(chunks.map(_.getAs[Int]("chunk_index")) == Seq(0, 1, 2))
    assert(chunks.head.getAs[String]("text_content").contains("This report analyzes"))
    val entitiesJson = chunks.head.getAs[String]("entities")
    assert(entitiesJson.contains("\"organizations\""))
    val charts = detail.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("charts")
    assert(charts.length == 2)

    // chunk range query (F2+F3+O1): 0..1 -> exactly 2 (repository.py:357-362)
    val ranged = store.getChunks(id1, Some(0), Some(1)).collect()
    assert(ranged.length == 2)
    assert(ranged.map(_.getAs[Int]("chunk_index")).toSeq == Seq(0, 1))

    // open-ended bounds (each optional — repository.py:97-100)
    assert(store.getChunks(id1, Some(1), None).count() == 2)
    assert(store.getChunks(id1, None, Some(0)).count() == 1)

    // cross-store chart read (J3): PNG bytes round-trip
    val chartId = store.getCharts(id1).collect().head.getAs[Long]("id")
    val img = store.getChartWithImage(id1, chartId)
    assert(img.nonEmpty)
    val (row, bytes, contentType) = img.get
    assert(contentType == "image/png")
    assert(bytes.take(8).sameElements(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)))
    assert(row.getAs[String]("image_path") == s"documents/$id1/charts/$chartId.png")

    // ownership guard (F5, api.py:205-209): wrong document -> None
    assert(store.getChartWithImage(id1 + 999, chartId).isEmpty)

    // metainfo update (M1) bumps updated_at
    val later = Timestamp.valueOf("2026-01-15 09:00:00")
    store.updateDocumentMetainfo(id1, """{"department":"Finance"}""", later)
    val updated = store.documents.filter(col("id") === id1).collect().head
    assert(updated.getAs[String]("metainfo").contains("Finance"))
    assert(updated.getAs[Timestamp]("updated_at") == later)

    // cascade delete (M2/J4): zero orphan chunks/charts/blobs
    store.deleteDocument(id1)
    assert(store.documents.filter(col("id") === id1).count() == 0)
    assert(store.chunks.filter(col("document_id") === id1).count() == 0)
    assert(store.charts.filter(col("document_id") === id1).count() == 0)
    assert(objects.get(objects.chartKey(id1, chartId)).isEmpty)
    // the other document survives
    assert(store.documents.count() == 1)
  }

  test("chunk reads prune to one doc_bucket partition (SURVEY §7.4.7)") {
    val (store, _, _, _) = fixture()
    val id1 = store.documents.orderBy("id").collect().head.getAs[Long]("id")
    val plan = store.getChunks(id1).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(doc_bucket"), plan)
    assert(plan.contains("(doc_bucket"), plan)
    // and the data still comes back complete
    assert(store.getChunks(id1).count() == 3)
  }

  test("bucket convention travels with the table: non-default count still returns rows") {
    val inbox = tmpDir("inbox-b8")
    writeDoc(inbox, "doc.pdf", "H:\nsome body text content here.\n")
    val root = tmpDir("store-b8")
    val tables = new TableStore(spark, s"$root/tables")
    val objects = new ObjectStore(spark, s"$root/bucket")
    new IngestPipeline(spark, tables, objects,
      ProcessingConfig(chunkBuckets = 8)).ingest(inbox, now)
    // a "different session": conf deliberately reset to the default
    spark.conf.set("spark.graft.chunkBuckets", "16")
    val store = new DocumentStore(spark, tables, objects)
    val id = store.documents.collect().head.getAs[Long]("id")
    assert(store.getChunks(id).count() >= 1) // marker (8) wins over conf (16)
    assert(tables.getTableProp("document_chunks", "buckets").contains("8"))
    // the marker is write-once: a later pipeline with a DIFFERENT bucket
    // config must adopt the table's existing convention, not relabel it
    val inbox2 = tmpDir("inbox-b8-more")
    writeDoc(inbox2, "later.pdf", "H:\nmore text content arriving later.\n")
    new IngestPipeline(spark, tables, objects,
      ProcessingConfig(chunkBuckets = 32)).ingest(inbox2, now)
    assert(tables.getTableProp("document_chunks", "buckets").contains("8"))
    spark.conf.set("spark.graft.chunkBuckets", "8") // restore for reads
    val laterId = store.documents.filter(col("filename") === "later.pdf")
      .collect().head.getAs[Long]("id")
    assert(store.getChunks(laterId).count() >= 1) // written under bucket-8
    // marker survives a copy-on-write rewrite
    tables.deleteWhere("document_chunks", col("document_id") === -1L,
      partitionCols = Seq("doc_bucket"))
    assert(tables.getTableProp("document_chunks", "buckets").contains("8"))
  }

  test("a live store picks up a re-bucketed table within the marker TTL") {
    val (store, tables, _, _) = fixture()
    val id1 = store.documents.orderBy("id").collect().head.getAs[Long]("id")
    assert(store.getChunks(id1).count() == 3) // marker (16) now cached

    // full-table rewrite under a NEW modulus — the one legitimate way to
    // change the bucket convention (Ingest class doc): recompute every
    // row's bucket, swap atomically, update the marker
    val rebucketed = tables.read("document_chunks").drop("doc_bucket")
      .withColumn("doc_bucket",
        IngestPipeline.chunkBucket(col("document_id"), 4))
    tables.overwriteAtomic("document_chunks", rebucketed, Seq("doc_bucket"))
    tables.setTableProp("document_chunks", "buckets", "4")

    // the SAME live store instance must serve complete results under the
    // new modulus — a stale bucket count would prune bucket-16 and
    // return empty
    assert(store.getChunks(id1).count() == 3,
      "stale cached bucket count must not empty out a re-bucketed read")
  }

  test("a second instance's re-bucket serves complete reads") {
    val root = tmpDir("store")
    val (store, tables, _, _) = fixture(root)
    val id1 = store.documents.orderBy("id").collect().head.getAs[Long]("id")
    def bare(): Long = tables.read("document_chunks").filter(col("document_id") === id1).count()
    assert(store.getChunks(id1).count() == 3 && bare() == 3) // both hold the 16-bucket view
    val other = new TableStore(spark, s"$root/tables")
    val rebucketed = other.read("document_chunks").drop("doc_bucket")
      .withColumn("doc_bucket", IngestPipeline.chunkBucket(col("document_id"), 4))
    other.overwriteAtomic("document_chunks", rebucketed, Seq("doc_bucket"))
    other.setTableProp("document_chunks", "buckets", "4")
    assert(store.getChunks(id1).count() == 3,
      "the serving store must prune with the new bucket count at once")
    assert(bare() == 3, "ChunkBucketPruning must inject the new bucket count at once")
  }

  test("ChunkBucketPruning injects the bucket predicate for bare document_id filters") {
    val (store, tables, _, _) = fixture()
    val id1 = store.documents.orderBy("id").collect().head.getAs[Long]("id")
    // no manual doc_bucket filter — the optimizer rule must add it
    val bare = tables.read("document_chunks")
      .filter(org.apache.spark.sql.functions.col("document_id") === id1)
    val plan = bare.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(doc_bucket"), plan)
    assert(bare.count() == 3) // and nothing is lost
  }

  test("SQL users get bucket pruning too (rule fires on raw SQL plans)") {
    val (store, tables, _, _) = fixture()
    val id1 = store.documents.orderBy("id").collect().head.getAs[Long]("id")
    tables.read("document_chunks").createOrReplaceTempView("chunks_sql_view")
    val df = spark.sql(s"SELECT chunk_index FROM chunks_sql_view WHERE document_id = ${id1}L")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(doc_bucket"), plan)
    assert(df.count() == 3)
  }

  test("dense ids continue from the existing maximum across batches (SURVEY §7.4.2)") {
    val (store, tables, objects, _) = fixture()
    val maxBefore = tables.maxId("documents", "id")
    val inbox2 = tmpDir("inbox2")
    writeDoc(inbox2, "third3.pdf", "Heading:\nMore text content here.\n")
    val pipe = new IngestPipeline(spark, tables, objects, ProcessingConfig())
    pipe.ingest(inbox2, now)
    val ids = store.documents.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.distinct.length == ids.length)
    assert(ids.max == maxBefore + 1)
  }

  test("content-hash dedup drops re-ingested bytes under a new name ([EXT] §2.10)") {
    val inbox = tmpDir("inbox-dedup")
    writeDoc(inbox, "orig.pdf", "T:\nidentical body text here.\n")
    val root = tmpDir("store-dedup")
    val tables = new TableStore(spark, s"$root/tables")
    val objects = new ObjectStore(spark, s"$root/bucket")
    val pipe = new IngestPipeline(spark, tables, objects,
      ProcessingConfig(dedupByContent = true))
    assert(pipe.ingest(inbox, now).documents == 1)
    // same bytes, new filename, plus an in-batch duplicate pair
    writeDoc(inbox, "copy.pdf", "T:\nidentical body text here.\n")
    writeDoc(inbox, "fresh_a.pdf", "T:\nbrand new content A.\n")
    writeDoc(inbox, "fresh_b.pdf", "T:\nbrand new content A.\n")
    val stats2 = pipe.ingest(inbox, now)
    // orig re-listed (dropped: already stored), copy dropped (same sha),
    // fresh_a kept, fresh_b dropped (in-batch duplicate)
    assert(stats2.documents == 1, s"got $stats2")
    val names = tables.read("documents").select("filename")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("fresh_a.pdf", "orig.pdf"))
  }

  test("near-dup flagging maintains the minhash index across batches ([EXT])") {
    val inbox = tmpDir("inbox-neardup")
    writeDoc(inbox, "base.pdf",
      "T:\nalpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu.\n")
    val root = tmpDir("store-neardup")
    val tables = new TableStore(spark, s"$root/tables")
    val objects = new ObjectStore(spark, s"$root/bucket")
    val pipe = new IngestPipeline(spark, tables, objects,
      ProcessingConfig(flagNearDups = true))
    assert(pipe.ingest(inbox, now).documents == 1)
    // batch 1 builds the index, flags nothing (no prior index)
    assert(!tables.exists("near_dup_flags"))
    assert(tables.read("minhash_bands").count() > 0)

    val inbox2 = tmpDir("inbox-neardup2")
    // light edit of base (near-dup) + an unrelated doc
    writeDoc(inbox2, "edited.pdf",
      "T:\nalpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu.\n")
    writeDoc(inbox2, "fresh.pdf",
      "T:\ncompletely different words appear in this memo about trains.\n")
    assert(pipe.ingest(inbox2, now).documents == 2)
    val flags = tables.read("near_dup_flags")
      .select("new_id", "indexed_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val idOf = tables.read("documents").select("filename", "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(flags.contains((idOf("edited.pdf"), idOf("base.pdf"))), s"$flags")
    assert(!flags.exists(_._1 == idOf("fresh.pdf")), s"$flags")
    // the index now covers both batches (3 docs x 8 bands)
    assert(tables.read("minhash_bands").count() == 24)

    // cascade: deleting a document removes its band rows AND any flags
    // referencing it in either role — the audit stays clean after a
    // routine delete, and future batches can't flag against a ghost
    new graft.serve.DocumentStore(spark, tables, objects)
      .deleteDocument(idOf("base.pdf"))
    assert(tables.read("minhash_bands")
      .filter(col("doc_id") === idOf("base.pdf")).count() == 0)
    assert(tables.read("near_dup_flags")
      .filter(col("new_id") === idOf("base.pdf") ||
        col("indexed_id") === idOf("base.pdf")).count() == 0)
    assert(tables.read("minhash_bands").count() == 16) // two docs remain
  }

  test("replaceByFilename re-crawl: changed files replace, unchanged skip, " +
    "ids are never reused, created_at survives, GC reclaims old blobs") {
    import spark.implicits._
    val inbox = tmpDir("inbox-replace")
    writeDoc(inbox, "report.pdf",
      "Intro:\nOriginal body text with enough tokens for one full chunk here.\nTABLE: t1\n")
    writeDoc(inbox, "keep.pdf", "Notes:\nUntouched sibling document stays.\n")
    val root = tmpDir("store-replace")
    val tables = new TableStore(spark, s"$root/tables")
    val objects = new ObjectStore(spark, s"$root/bucket")
    val pipe = new IngestPipeline(spark, tables, objects,
      ProcessingConfig(chunker = ChunkerConfig(minTokens = 5, maxTokens = 2000),
        dedupByContent = true, replaceByFilename = true, flagNearDups = true))
    val t1 = Timestamp.valueOf("2026-01-15 08:30:00")
    assert(pipe.ingest(inbox, t1).documents == 2)
    val orig = tables.read("documents")
      .filter(col("filename") === "report.pdf").head()
    val origId = orig.getLong(orig.fieldIndex("id"))
    val blobsBefore = objects.listKeys().count()

    // re-crawl: report.pdf changed, keep.pdf byte-identical
    val inbox2 = tmpDir("inbox-replace2")
    writeDoc(inbox2, "report.pdf",
      "Intro:\nRevised body text entirely different tokens this time around.\nTABLE: t2\n")
    writeDoc(inbox2, "keep.pdf", "Notes:\nUntouched sibling document stays.\n")
    val t2 = Timestamp.valueOf("2026-02-01 10:00:00")
    val s2 = pipe.ingest(inbox2, t2)
    assert(s2.documents == 1, "unchanged keep.pdf must dedup away")

    val docs = tables.read("documents").collect()
    assert(docs.length == 2, "one live row per filename after the replace")
    val rep = tables.read("documents")
      .filter(col("filename") === "report.pdf").head()
    val repId = rep.getLong(rep.fieldIndex("id"))
    assert(repId != origId, "a replaced document's id is never reused")
    assert(rep.getTimestamp(rep.fieldIndex("created_at")) == t1,
      "the original created_at survives the replace")
    assert(rep.getTimestamp(rep.fieldIndex("updated_at")) == t2)

    // the old generation is gone from every owned table
    val liveIds = docs.map(r => r.getLong(r.fieldIndex("id"))).toSet
    assert(tables.read("document_chunks")
      .filter(col("text_content").contains("Original")).count() == 0)
    assert(tables.read("document_chunks")
      .filter(col("text_content").contains("Revised")).count() == 1)
    for ((t, c) <- Seq("document_chunks" -> "document_id",
        "chart_data" -> "document_id", "minhash_bands" -> "doc_id")) {
      val refs = tables.read(t).select(col(c)).distinct().as[Long]
        .collect().toSet
      assert(refs.subsetOf(liveIds), s"$t must reference only live ids")
    }

    // old chart blobs are orphans by design; GC reclaims them and the
    // store audits clean afterwards
    val reclaimed = graft.store.Audit.gcOrphanBlobs(tables, objects)
    assert(reclaimed >= 1, "the replaced report's chart blob must be orphaned")
    assert(objects.listKeys().count() == blobsBefore,
      "one blob per live chart after GC (old t1 chart out, new t2 chart in)")

    // replaying the same re-crawl is a no-op (sha-identical batch)
    val s3 = pipe.ingest(inbox2, t2)
    assert(s3.documents == 0)
    assert(tables.read("documents").count() == 2)
  }

  test("replaceByFilename tolerates legacy rows with null id/created_at") {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val inbox = tmpDir("inbox-nullrow")
    writeDoc(inbox, "report.pdf", "Intro:\nFirst body text content.\n")
    val root = tmpDir("store-nullrow")
    val tables = new TableStore(spark, s"$root/tables")
    val objects = new ObjectStore(spark, s"$root/bucket")
    val pipe = new IngestPipeline(spark, tables, objects,
      ProcessingConfig(replaceByFilename = true))
    pipe.ingest(inbox, now)
    // a foreign/legacy writer leaves a same-filename row with NULL id and
    // created_at — the re-crawl cascade must not NPE mid-batch on it
    tables.updateWhere("documents", col("filename") === "report.pdf",
      Map("id" -> lit(null).cast(LongType),
        "created_at" -> lit(null).cast(TimestampType)))

    val inbox2 = tmpDir("inbox-nullrow2")
    writeDoc(inbox2, "report.pdf", "Intro:\nRevised body text content.\n")
    val t2 = Timestamp.valueOf("2026-02-01 10:00:00")
    pipe.ingest(inbox2, t2)
    val docs = tables.read("documents").collect()
    assert(docs.length == 1, "the null-keyed legacy row is still replaced by filename")
    val row = docs.head
    assert(!row.isNullAt(row.fieldIndex("id")))
    // no original timestamp recoverable → the replacement's own clock
    assert(row.getTimestamp(row.fieldIndex("created_at")) == t2)
  }

  test("non-pdf files are filtered at the source (F4, main.py:48)") {
    val inbox = tmpDir("inbox3")
    writeDoc(inbox, "keep.pdf", "T:\nbody text\n")
    writeDoc(inbox, "skip.txt", "ignored")
    val root = tmpDir("store3")
    val tables = new TableStore(spark, s"$root/tables")
    val objects = new ObjectStore(spark, s"$root/bucket")
    val stats = new IngestPipeline(spark, tables, objects, ProcessingConfig())
      .ingest(inbox, now)
    assert(stats.documents == 1)
  }
}
