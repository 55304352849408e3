package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkJobs}
import graft.pipeline.IngestPipeline
import graft.store.{ObjectStore, TableStore}

/** Pins the round-12 serving wiring: the DocumentStore point reads go
  * through the stats-pruned file-list path, so `GET /documents/{id}` —
  * the reference's hottest endpoint, a Postgres PK index scan there
  * (api.py:106-147) — PLANS only the files whose footer [min, max]
  * straddles the key (and, for chunks, only the 1-of-N doc_bucket
  * partition directory), instead of a task per file of the table.
  * Asserted over `inputFiles` — the planned scan list, not the
  * rows-that-matched proxy.
  */
class ServePruningSpec extends AnyFunSuite with SharedSpark {

  private lazy val fx = new ServeFixtures(spark, tmpDir)
  import fx._

  test("chunkBucketScalar is bit-identical to the Column bucket") {
    val rnd = new scala.util.Random(12345)
    val ids = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue) ++
      Seq.fill(200)(rnd.nextLong())
    import spark.implicits._
    for (b <- Seq(1, 7, 16, 256)) {
      val rows = ids.toDF("id")
        .select(col("id"), IngestPipeline.chunkBucket(col("id"), b).as("bk"))
        .collect()
      rows.foreach { r =>
        assert(r.getLong(1) == IngestPipeline.chunkBucketScalar(r.getLong(0), b),
          s"id=${r.getLong(0)} buckets=$b")
      }
    }
  }

  test("getDocument plans a pruned file list on every table it touches") {
    val (ds, ts, _) = fixture()
    val doc = ds.getDocument(150L)
    val files = doc.inputFiles
    assert(files.count(_.contains("/documents/")) == 1,
      "the id conjunct must prune documents to its one id-band file")
    assert(files.count(_.contains("/chart_data/")) == 1,
      "the document_id conjunct must prune chart_data to one band file")
    val b = IngestPipeline.chunkBucketScalar(150L, 16)
    val chunkFiles = files.filter(_.contains("/document_chunks/"))
    assert(chunkFiles.nonEmpty &&
      chunkFiles.forall(_.contains(s"doc_bucket=$b/")),
      s"chunk files must come only from the doc_bucket=$b directory")
    // and the row content is exactly the unpruned serving answer
    val row = doc.collect().head
    assert(row.getAs[Long]("id") == 150L)
    assert(row.getAs[String]("filename") == "doc150.pdf")
    assert(row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("chunks").size == 2)
    assert(row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("charts").size == 1)
    // absent id: empty result, still pruned planning
    assert(ds.getDocument(9999L).count() == 0)
  }

  test("getChunks and getCharts prune like the reference's FK index") {
    val (ds, _, _) = fixture()
    val chunks = ds.getChunks(42L)
    val b = IngestPipeline.chunkBucketScalar(42L, 16)
    assert(chunks.inputFiles.nonEmpty &&
      chunks.inputFiles.forall(_.contains(s"doc_bucket=$b/")))
    assert(chunks.collect().map(_.getAs[Int]("chunk_index")).toSeq == Seq(0, 1))
    val ranged = ds.getChunks(42L, startChunk = Some(1), endChunk = Some(1))
    assert(ranged.count() == 1)
    val charts = ds.getCharts(250L)
    assert(charts.inputFiles.count(_.contains("/chart_data/")) == 1)
    assert(charts.collect().map(_.getAs[Long]("id")).toSeq == Seq(250L * 7))
  }

  test("chart ownership check prunes on both conjuncts and stays exact") {
    val (ds, ts, _) = fixture()
    // deleteChart's ownership probe: id 1750 belongs to document 250 —
    // claiming it under a different document must refuse
    assert(!ds.deleteChart(1L, 1750L))
    assert(ts.read("chart_data").filter(col("id") === 1750L).count() == 1,
      "a refused delete must not remove the row")
    assert(ds.deleteChart(250L, 1750L))
    assert(ts.read("chart_data").filter(col("id") === 1750L).count() == 0)
  }

  test("keyset pagination and batch lookup plan pruned tails, exact rows") {
    val (ds, _, _) = fixture()
    // page anchored past the second band: only the 201-300 file plans
    val page = ds.listDocumentsAfter(200L, limit = 10)
    assert(page.inputFiles.count(_.contains("/documents/")) == 1,
      "files entirely at or below the anchor must not plan")
    assert(page.collect().map(_.getAs[Long]("id")).toSeq == (201L to 210L))
    // anchor past the end → empty; MaxValue anchor must not overflow
    assert(ds.listDocumentsAfter(300L).count() == 0)
    assert(ds.listDocumentsAfter(Long.MaxValue).count() == 0)
    // batch lookup: ids from bands 1 and 3 → the middle file is pruned
    val batch = ds.getDocuments(Seq(5L, 42L, 250L))
    assert(batch.inputFiles.count(_.contains("/documents/")) == 2)
    assert(batch.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("filename"))).toSeq ==
      Seq((5L, "doc5.pdf"), (42L, "doc42.pdf"), (250L, "doc250.pdf")))
    assert(ds.getDocuments(Nil).count() == 0)
  }

  test("batch chunk hydration confines itself to the ids' bucket dirs") {
    val (ds, _, _) = fixture()
    val ids = Seq(10L, 42L, 250L)
    val chunks = ds.getChunksForDocuments(ids)
    val buckets = ids.map(IngestPipeline.chunkBucketScalar(_, 16)).distinct
    assert(chunks.inputFiles.nonEmpty &&
      chunks.inputFiles.forall(f =>
        buckets.exists(b => f.contains(s"doc_bucket=$b/"))),
      "only the requested ids' bucket directories may plan")
    val rows = chunks.collect()
    assert(rows.map(_.getAs[Long]("document_id")).toSet == ids.toSet)
    assert(rows.length == ids.length * 2, "two chunks per fixture document")
    // ordered by (document_id, chunk_index) — the dataloader contract
    assert(rows.map(r => (r.getAs[Long]("document_id"),
      r.getAs[Int]("chunk_index"))).toSeq ==
      ids.sorted.flatMap(d => Seq((d, 0), (d, 1))))
    assert(ds.getChunksForDocuments(Nil).count() == 0)
  }

  test("a store with no tables serves empty frames through the pruned paths") {
    val root = tmpDir("serve-prune-empty")
    val ds = new DocumentStore(spark,
      new TableStore(spark, s"$root/tables"),
      new ObjectStore(spark, s"$root/bucket"))
    assert(ds.getDocument(1L).count() == 0)
    assert(ds.getChunks(1L).count() == 0)
    assert(ds.getCharts(1L).count() == 0)
    assert(ds.getChartWithImage(1L, 2L).isEmpty)
    assert(ds.listDocumentsAfter(0L).count() == 0)
    assert(ds.getDocuments(Seq(1L, 2L)).count() == 0)
  }

  test("building any DocumentStore frame runs no Spark job") {
    val (ds, _, _) = fixture()
    def frames(): Seq[DataFrame] = Seq(ds.documents, ds.chunks, ds.charts,
      ds.getDocument(150L), ds.getChunks(42L),
      ds.getChunks(42L, startChunk = Some(1), endChunk = Some(1)),
      ds.getCharts(250L), ds.listDocuments(10, 10),
      ds.listDocumentsAfter(200L, 10), ds.getDocuments(Seq(5L, 250L)),
      ds.getChunksForDocuments(Seq(10L, 42L)))
    frames() // this store's first reads infer each table's schema once
    val (_, jobs) = SparkJobs.during(spark)(frames())
    assert(jobs == 0, s"building the serving frames ran $jobs Spark job(s)")
  }

  test("executing a serving read runs exactly one Spark job") {
    val (ds, _, objects) = fixture()
    objects.put(objects.chartKey(250L, 1750L), Array[Byte](-119, 80, 78, 71))
    ds.getDocument(150L).collect() // schema inference of a fresh store
    def jobs(read: => Any): Int = SparkJobs.during(spark)(read)._2
    assert(jobs(ds.getDocument(150L).toJSON.collect()) == 1, "getDocument")
    assert(jobs(served(ds.getChunks(42L))) == 1, "getChunks")
    assert(jobs(served(ds.getChunks(42L, Some(1), Some(1)))) == 1, "getChunks range")
    assert(jobs(served(ds.getCharts(250L))) == 1, "getCharts")
    assert(jobs(served(ds.listDocuments(10, 10))) == 1, "listDocuments")
    assert(jobs(ds.getChartWithImage(250L, 1750L).get) == 1, "getChartWithImage")
    assert(jobs(ds.documentExists(150L)) == 1, "documentExists")
    assert(jobs(ds.getChunksJson(42L, Some(1), None)) == 1, "getChunksJson")
    // an absent key prunes every file away: nothing left to run
    assert(jobs(ds.getChunksJson(9999L)) <= 1, "getChunksJson of an absent document")
    assert(jobs(ds.getChartsJson(250L)) == 1, "getChartsJson")
  }

  test("a folded 404 guard answers exactly what the probe-then-read pair did") {
    val (ds, ts, _) = fixture(chartsPerDoc = 3)
    // document 301 exists without chunks or charts
    import spark.implicits._
    ts.append("documents", Seq((301L, "doc301.pdf", 0, "{}",
      java.sql.Timestamp.valueOf("2026-01-15 08:30:00"),
      java.sql.Timestamp.valueOf("2026-01-15 08:30:00")))
      .toDF("id", "filename", "total_chunks", "metainfo", "created_at", "updated_at"))
    def probeThenRead(id: Long, rows: => DataFrame): Option[Seq[String]] =
      if (ds.documentExists(id)) Some(served(rows)) else None
    for (id <- Seq(42L, 150L, 301L, 9999L);
         (s, e) <- Seq((None, None), (Some(1), None), (None, Some(0)),
                       (Some(1), Some(1)), (Some(5), None))) {
      val got = ds.getChunksJson(id, s, e)
      assert(got == probeThenRead(id, ds.getChunks(id, s, e)), s"chunks of $id in [$s, $e]")
      assert(got.isEmpty == (id == 9999L), s"404 iff absent: $id")
    }
    for (id <- Seq(1L, 250L, 301L, 9999L))
      assert(ds.getChartsJson(id) == probeThenRead(id, ds.getCharts(id)), s"charts of $id")
    assert(ds.getChunksJson(301L).contains(Seq.empty), "a document without chunks is 200 []")
  }

  test("one-document reads plan no exchange and no broadcast") {
    val (ds, _, _) = fixture(chartsPerDoc = 3)
    for ((name, df) <- Seq("getDocument" -> ds.getDocument(150L),
                           "getChunks" -> ds.getChunks(42L, Some(0), Some(1)),
                           "getCharts" -> ds.getCharts(250L))) {
      assert(df.collect().nonEmpty, name)
      val ops = SparkJobs.operators(df.queryExecution.executedPlan)
      val moved = ops.map(_.nodeName)
        .filter(n => n.contains("Exchange") || n.startsWith("Broadcast"))
      assert(moved.isEmpty, s"$name moves rows: ${moved.mkString(", ")}")
    }
  }

  test("single-partition reads serve the reference shape's JSON byte for byte") {
    val (ds, ts, _) = fixture(chartsPerDoc = 3)
    for (id <- Seq(1L, 150L, 300L, 9999L)) {
      val got = ds.getDocument(id).toJSON.collect().toSeq
      assert(got == referenceDocument(ts, id).toJSON.collect().toSeq, s"document $id")
      if (id != 9999L) assert(got.head.contains(s""""chart_id":${id * 7 + 2}"""))
    }
    for (id <- Seq(42L, 150L, 9999L);
         (s, e) <- Seq((None, None), (Some(1), None), (None, Some(0)), (Some(1), Some(1))))
      assert(served(ds.getChunks(id, s, e)) == served(referenceChunks(ts, id, s, e)),
        s"chunks of $id in [$s, $e]")
  }
}
