package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.IngestPipeline
import graft.store.{ObjectStore, TableStore}

/** The serving specs' store and the reference shapes their reads are
  * checked against.
  */
final class ServeFixtures(spark: SparkSession, tmpDir: String => String) {

  /** documents: 3 id-banded files; chunks: 16 hive bucket dirs keyed the
    * ingest's way; charts: 3 document_id-banded files, `chartsPerDoc`
    * charts per document (ids d*7, d*7+1, ...).
    */
  def fixture(chartsPerDoc: Int = 1): (DocumentStore, TableStore, ObjectStore) = {
    import spark.implicits._
    val root = tmpDir("serve-prune")
    val ts = new TableStore(spark, s"$root/tables")
    val now = java.sql.Timestamp.valueOf("2026-01-15 08:30:00")
    for (b <- 0 until 3)
      ts.append("documents",
        (b * 100L + 1 to b * 100L + 100).map(i =>
          (i, s"doc$i.pdf", 2, s"""{"file_size":$i}""", now, now))
          .toDF("id", "filename", "total_chunks", "metainfo",
            "created_at", "updated_at").coalesce(1))
    val chunkRows = (1L to 300L).flatMap(d => (0 until 2).map(ci =>
      (d * 10 + ci, d, ci, s"text $d-$ci", "{}", "{}", now)))
      .toDF("id", "document_id", "chunk_index", "text_content",
        "entities", "chunk_metadata", "created_at")
      .withColumn("doc_bucket", IngestPipeline.chunkBucket(col("document_id"), 16))
    ts.appendPartitioned("document_chunks", chunkRows, Seq("doc_bucket"))
    ts.setTableProp("document_chunks", "buckets", "16")
    for (b <- 0 until 3)
      ts.append("chart_data",
        (b * 100L + 1 to b * 100L + 100).flatMap(d => (0 until chartsPerDoc).map(k =>
          (d * 7 + k, d, s"""{"type":"table","k":$k}""",
            s"documents/$d/charts/${d * 7 + k}.png", now)))
          .toDF("id", "document_id", "info", "image_path", "created_at")
          .coalesce(1))
    val objects = new ObjectStore(spark, s"$root/bucket")
    (new DocumentStore(spark, ts, objects), ts, objects)
  }

  /** The groupBy/join shape getDocument had before its reads became
    * single-partition: the same pruned reads and the same nesting, with
    * the planner free to shuffle and broadcast. The byte-for-byte
    * reference for the served JSON.
    */
  def referenceDocument(ts: TableStore, id: Long): DataFrame = {
    val b = IngestPipeline.chunkBucketScalar(id, 16)
    val doc = ts.readRange("documents", "id", id, id)
    val nestedChunks = ts.readRangeAll("document_chunks",
        Seq(("doc_bucket", b, b), ("document_id", id, id)))
      .groupBy("document_id")
      .agg(sort_array(collect_list(struct(
        col("chunk_index"), col("text_content"), col("entities"),
        col("chunk_metadata"), col("created_at")))).as("chunks"))
    val nestedCharts = ts.readRange("chart_data", "document_id", id, id)
      .groupBy("document_id")
      .agg(collect_list(struct(
        col("id").as("chart_id"), col("info"), col("image_path"),
        col("created_at"))).as("charts"))
    doc
      .join(nestedChunks, col("id") === nestedChunks("document_id"), "left_outer")
      .join(nestedCharts, col("id") === nestedCharts("document_id"), "left_outer")
      .select(doc("id"), col("filename"), col("total_chunks"), col("metainfo"),
        doc("created_at"), col("updated_at"),
        coalesce(col("chunks"), array()).as("chunks"),
        coalesce(col("charts"), array()).as("charts"))
  }

  /** getChunks before its read became single-partition. */
  def referenceChunks(ts: TableStore, id: Long,
                              start: Option[Int], end: Option[Int]): DataFrame = {
    val b = IngestPipeline.chunkBucketScalar(id, 16)
    var df = ts.readRangeAll("document_chunks",
      Seq(("doc_bucket", b, b), ("document_id", id, id)))
    start.foreach(s => df = df.filter(col("chunk_index") >= s))
    end.foreach(e => df = df.filter(col("chunk_index") <= e))
    df.orderBy("chunk_index")
      .select("chunk_index", "text_content", "entities", "chunk_metadata", "created_at")
  }

  /** Drain a frame the way HttpShim serves an array: row JSON through
    * `toLocalIterator`, one job per partition of the final plan.
    */
  def served(df: DataFrame): Seq[String] = {
    val it = df.toJSON.toLocalIterator()
    val out = Seq.newBuilder[String]
    while (it.hasNext) out += it.next()
    out.result()
  }
}
