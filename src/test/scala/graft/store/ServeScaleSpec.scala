package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.serve.DocumentStore

/** The serving-latency story at corpus FILE COUNTS (VERDICT r12 §3), in
  * the IvfScaleSpec/MediaScaleSpec mold: ServePruningSpec pins pruned
  * plans on ~3-file tables; this spec pins the same contract where it
  * actually matters — a documents table of ~5,000 id-banded files (the
  * shape a 100 TB corpus has after compaction: bounded-size files, tight
  * per-file id ranges). The three assertions are exactly the 100 TB
  * serving claims:
  *
  *  1. a `getDocument` point lookup PLANS a handful of files, not one
  *     task per file of the table (footer-band pruning via the stats
  *     manifest — no live footer opens on the hot path);
  *  2. N lookups of an unchanged table perform NO directory listing
  *     (the table snapshot holds the file list while the version token
  *     is unchanged; at ~800k files a per-lookup listing would BE the
  *     latency);
  *  3. the N-lookup wall time is bounded — the end-to-end latency an
  *     operator would measure, covering the driver-side manifest reads
  *     and the 1-2-task Spark jobs.
  */
class ServeScaleSpec extends AnyFunSuite with SharedSpark {

  test("5,000-file table: pruned plans, one listing across N lookups, bounded wall") {
    val root = tmpDir("serve-scale")
    val ts = new TableStore(spark, s"$root/tables")
    val nRows = 100000L
    val nFiles = 5000
    val now = lit(java.sql.Timestamp.valueOf("2026-01-15 08:30:00"))
    val docs = spark.range(nRows).select(
      col("id"),
      concat(lit("doc"), col("id"), lit(".pdf")).as("filename"),
      lit(2).as("total_chunks"),
      lit("{}").as("metainfo"),
      now.as("created_at"),
      now.as("updated_at"))
    // 5,000 range-clustered files (~20 ids each) + the stats manifest at
    // declaration time — the one-time cost compaction cadence pays, NOT
    // the serving path
    ts.append("documents", docs.repartitionByRange(nFiles, col("id")))
    ts.declareStatsColumns("documents", Seq("id"))
    val fileCount = ts.read("documents").inputFiles.length
    assert(fileCount >= nFiles * 9 / 10,
      s"fixture must actually be many-filed, got $fileCount")

    val ds = new DocumentStore(spark, ts,
      new ObjectStore(spark, s"$root/bucket"))
    // the warm lookup pays the one listing of this table version
    assert(ds.getDocument(777L).count() == 1)
    val listingsBefore = ts.listingsPerformed.get()
    val ids = Seq(3L, 123L, 999L, 4321L, 14350L, 23456L, 25000L, 34567L,
      45678L, 49999L, 50001L, 56789L, 63210L, 67890L, 75757L, 78901L,
      88888L, 89012L, 90123L, 99999L)
    val t0 = System.nanoTime()
    for (id <- ids) {
      val doc = ds.getDocument(id)
      val planned = doc.inputFiles.count(_.contains("/documents/"))
      assert(planned >= 1 && planned <= 3,
        s"id=$id must plan O(matched files) of $fileCount, planned $planned")
      val row = doc.collect()
      assert(row.length == 1 && row.head.getAs[Long]("id") == id)
      assert(row.head.getAs[String]("filename") == s"doc$id.pdf")
    }
    val wallSec = (System.nanoTime() - t0) / 1e9
    assert(ts.listingsPerformed.get() == listingsBefore,
      "N lookups of an unchanged table must not re-list it")
    // generous CI bound; locally ~0.1-0.3 s per lookup. Without
    // pruning each lookup would schedule ~5,000 tasks; without the
    // snapshot each would pay an O(#files) listing — either blows this
    assert(wallSec < 60.0,
      f"${ids.size} point lookups took $wallSec%.1f s on a $fileCount-file table")
    info(f"${ids.size} lookups in $wallSec%.2f s over $fileCount files " +
      f"(${wallSec / ids.size}%.3f s/lookup)")
    // the 404 shape: an id past every footer band must not fall back
    // to a whole-table plan — a local empty relation plans NOTHING
    // (r13; previously read(table).filter(false) listed all 5k files
    // at action time to return zero rows)
    val absent = ds.getDocument(nRows + 12345L)
    assert(absent.count() == 0)
    assert(absent.inputFiles.isEmpty,
      "an absent-key lookup must plan zero files, not the table")
    // keyset pagination rides the same machinery: a deep page plans
    // only the files past its anchor
    val page = ds.listDocumentsAfter(99000L, limit = 20)
    assert(page.inputFiles.count(_.contains("/documents/")) <= 60,
      "a deep keyset page must plan only the anchor's tail")
    assert(page.collect().map(_.getAs[Long]("id")).toSeq == (99001L to 99020L))
  }
}
