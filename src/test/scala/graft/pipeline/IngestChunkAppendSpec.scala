package graft.pipeline

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.etl.ChunkerConfig
import graft.store.{ObjectStore, TableStore}

/** Ingest hands the chunk append the chunk count its id pass already
  * has, in place of the append's own emptiness job. A call with no chunks
  * must still write nothing under `document_chunks`: no table on a fresh
  * store, and no file-less `doc_bucket=` directory on an existing one.
  */
class IngestChunkAppendSpec extends AnyFunSuite with SharedSpark {

  private val now = Timestamp.valueOf("2026-01-15 08:30:00")

  private def inbox(docs: (String, String)*): String = {
    val dir = tmpDir("chunk-append-inbox")
    docs.foreach { case (name, body) =>
      Files.write(Paths.get(dir, name), body.getBytes(StandardCharsets.UTF_8))
    }
    dir
  }

  /** Partition directories under the chunk table that hold no data file. */
  private def fileLessBuckets(table: String): Seq[String] =
    Option(new File(table).listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("doc_bucket="))
      .filterNot(_.listFiles.exists(f => f.isFile && f.getName.endsWith(".parquet")))
      .map(_.getName)

  test("a zero-chunk call creates no chunk table and no file-less bucket directory") {
    val root = tmpDir("chunk-append-store")
    val tables = new TableStore(spark, s"$root/tables")
    val pipe = new IngestPipeline(spark, tables, new ObjectStore(spark, s"$root/bucket"),
      ProcessingConfig(chunker = ChunkerConfig(minTokens = 5, maxTokens = 40)))
    assert(pipe.ingest(inbox("c.pdf" -> "FIGURE: lone figure\nTABLE: lone table\n"), now) ==
      IngestStats(1, 0, 2))
    assert(!tables.exists("document_chunks"))

    val text = "Body text of a section with enough words to chunk it twice over."
    val first = pipe.ingest(inbox("a.pdf" -> s"Intro:\n$text\n$text\n"), now)
    assert(first.chunks > 0)
    val chunkDir = s"$root/tables/document_chunks"
    def bucketDirs = new File(chunkDir).list().filter(_.startsWith("doc_bucket=")).toSet
    val buckets = bucketDirs

    // differently named, so the content dedup does not drop it
    assert(pipe.ingest(inbox("d.pdf" -> "TABLE: another lone table\n"), now) ==
      IngestStats(1, 0, 1))
    assert(bucketDirs == buckets)
    assert(fileLessBuckets(chunkDir).isEmpty)
    assert(tables.read("document_chunks").count() == first.chunks)
  }
}
