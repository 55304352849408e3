package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkJobs}
import graft.etl.ChunkerConfig
import graft.store.{ObjectStore, TableStore}

/** The one id pass of an ingest call: document, chunk and chart ids are
  * the global row_numbers over (path), (document_id, chunk_index) and
  * (document_id, chart_type, type_index), offset by each table's prior
  * max — across calls, and for documents with no chunks or no charts.
  * Also pins what the call costs: its Spark jobs, and that no storage
  * block outlives it.
  */
class IngestIdPassSpec extends AnyFunSuite with SharedSpark {

  private val now = Timestamp.valueOf("2026-01-15 08:30:00")

  private def inbox(docs: (String, String)*): String = {
    val dir = tmpDir("id-pass-inbox")
    docs.foreach { case (name, body) =>
      Files.write(Paths.get(dir, name), body.getBytes(StandardCharsets.UTF_8))
    }
    dir
  }

  private def pipeline(root: String): (TableStore, ObjectStore, IngestPipeline) = {
    val tables = new TableStore(spark, s"$root/tables")
    val objects = new ObjectStore(spark, s"$root/bucket")
    (tables, objects, new IngestPipeline(spark, tables, objects,
      ProcessingConfig(chunker = ChunkerConfig(minTokens = 5, maxTokens = 40))))
  }

  private def maxOf(df: DataFrame): Long =
    df.agg(coalesce(max("id"), lit(0L))).head().getLong(0)

  /** Rows whose stored id differs from `base + row_number()` over `order`. */
  private def misnumbered(df: DataFrame, base: Long, order: String*): Long =
    df.withColumn("want", row_number().over(Window.orderBy(order.map(col): _*)) + base)
      .filter(col("id") =!= col("want")).count()

  private val text = "Body text of a section with enough words to chunk it twice over."

  test("two calls: ids are row_numbers over each table's key, offset by the prior max") {
    val (tables, objects, pipe) = pipeline(tmpDir("id-pass-store"))
    val calls = Seq(
      inbox(
        "a.pdf" -> s"Intro:\n$text\nTABLE: first table\nFIGURE: a figure\nTABLE: second\n$text\n",
        "b.pdf" -> s"Only text:\n$text\n$text\n",
        "c.pdf" -> "FIGURE: lone figure\nTABLE: lone table\n"),
      inbox(
        "e.pdf" -> s"More:\n$text\nFIGURE: f1\nFIGURE: f2\nTABLE: t1\n",
        "f.pdf" -> s"Plain:\n$text\n"))
    var charts = Set.empty[String]
    calls.foreach { dir =>
      val names = new java.io.File(dir).list().toSeq
      val before = Seq("documents", "document_chunks", "chart_data")
        .map(t => if (tables.exists(t)) maxOf(tables.read(t)) else 0L)
      val stats = pipe.ingest(dir, now)

      val docs = tables.read("documents").filter(col("filename").isin(names: _*))
      // one inbox: path order is filename order
      assert(misnumbered(docs, before(0), "filename") == 0)
      val docIds = docs.select("id").collect().map(_.getLong(0)).toSeq
      val chunks = tables.read("document_chunks").filter(col("document_id").isin(docIds: _*))
      assert(misnumbered(chunks, before(1), "document_id", "chunk_index") == 0)
      val chartRows = tables.read("chart_data").filter(col("document_id").isin(docIds: _*))
        .withColumn("chart_type", get_json_object(col("info"), "$.type"))
        .withColumn("type_index", get_json_object(col("info"), "$.index").cast("int"))
      assert(misnumbered(chartRows, before(2), "document_id", "chart_type", "type_index") == 0)

      assert(stats == IngestStats(docIds.size, chunks.count(), chartRows.count()))
      val paths = chartRows.select("image_path").collect().map(_.getString(0))
      assert(paths.nonEmpty && paths.forall(p => objects.get(p).exists(_._1.nonEmpty)),
        "every chart row's image_path has its blob")
      charts ++= chartRows.select("chart_type").collect().map(_.getString(0))
    }
    assert(charts == Set("table", "figure"))

    // the fixture's edge documents: a chunk-less one with charts and a
    // chart-less one with chunks
    val perDoc = tables.read("documents").select("id", "filename", "total_chunks")
      .join(tables.read("chart_data").groupBy(col("document_id").as("id")).count(),
        Seq("id"), "left")
      .collect().map(r => r.getString(1) -> (r.getInt(2), Option(r.get(3)).fold(0L)(_ => r.getLong(3))))
      .toMap
    assert(perDoc("c.pdf") == (0, 2L))
    assert(perDoc("b.pdf")._1 > 0 && perDoc("b.pdf")._2 == 0L)
  }

  test("an 80-document ingest call runs at most 10 Spark jobs") {
    val dir = inbox((1 to 80).map(i =>
      f"doc$i%02d.pdf" -> s"Part $i:\n$text\nTABLE: t$i\n${if (i % 3 == 0) s"FIGURE: f$i\n" else ""}"): _*)
    val (_, _, warm) = pipeline(tmpDir("id-pass-warm"))
    warm.ingest(dir, now)
    val (_, _, pipe) = pipeline(tmpDir("id-pass-jobs"))
    val (stats, jobs) = SparkJobs.during(spark)(pipe.ingest(dir, now))
    assert(stats.documents == 80L)
    assert(jobs <= 10, s"an 80-document ingest ran $jobs jobs")
  }

  private def storedRdds: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("no storage block outlives an ingest call or a streamed export batch") {
    val before = storedRdds
    val (_, _, pipe) = pipeline(tmpDir("id-pass-blocks"))
    pipe.ingest(inbox("a.pdf" -> s"Intro:\n$text\nTABLE: x\nFIGURE: y\n"), now)
    assert(storedRdds -- before == Set.empty, "ingest left blocks behind")

    import spark.implicits._
    val root = tmpDir("id-pass-export")
    (0 until 12).map(i => (i.toLong, s"doc text $i")).toDF("id", "txt")
      .coalesce(1).write.parquet(s"$root/feed")
    val feed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, txt STRING"))
      .parquet(s"$root/feed")
    graft.streaming.StreamingExport.tarShards(feed, col("id"), Seq(col("id")),
      Seq("txt" -> col("txt")), 4L, s"$root/out", s"$root/ckpt",
      trigger = Trigger.AvailableNow()).awaitTermination()
    assert(new java.io.File(s"$root/out/batch-0").isDirectory)
    assert(storedRdds -- before == Set.empty, "the export batch left blocks behind")
  }
}
