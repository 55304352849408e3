package graft.store

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins the version-checked table snapshot the pruned reads plan from:
  * an unchanged table is read with no listing at all, while every write
  * through a TableStore — this instance's or another's — is visible to
  * the next read with no waiting. The id allocator lists fresh, so it
  * also counts files written around TableStore; reads see such a file
  * at the table's next TableStore mutation.
  */
class ListingCacheSpec extends AnyFunSuite with SharedSpark {

  private def rows(lo: Long, hi: Long) = {
    import spark.implicits._
    (lo to hi).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
  }

  private def mk(root: String): TableStore = {
    val ts = new TableStore(spark, root)
    for (b <- 0 until 3) ts.append("t", rows(b * 100L + 1, b * 100L + 100))
    ts
  }

  /** A parquet file written straight into the table directory. */
  private def dropForeign(root: String, lo: Long, hi: Long): Unit =
    rows(lo, hi).write.mode("append").parquet(s"$root/t")

  // The two cases below keep their names from the TTL-cache era: the
  // listing TTL knob is gone, and they pin what its default (0: live)
  // and its opt-in (amortized) settings promised, now both at once.

  test("default TTL 0: every pruned read lists live") {
    val root = tmpDir("snap-live")
    val reader = mk(root)
    val writer = new TableStore(spark, root)
    assert(reader.readRange("t", "id", 120L, 1000L).count() == 181)
    for (b <- 3 until 6) {
      writer.append("t", rows(b * 100L + 1, b * 100L + 100))
      val before = reader.listingsPerformed.get()
      assert(reader.readRange("t", "id", 120L, 1000L).count() == 181 + (b - 2) * 100L,
        "a write through another instance must be visible to the next read")
      assert(reader.listingsPerformed.get() > before,
        "the read after a write must list the changed table")
    }
    import spark.implicits._
    writer.overwriteAtomic("t",
      (1L to 20L).map(i => (i, i * 2.0)).toDF("id", "score").repartition(2))
    val after = reader.readRange("t", "id", 5L, 6L)
    assert(after.columns.toSeq == Seq("id", "score"))
    assert(after.orderBy("id").select("score").as[Double].collect().toSeq == Seq(10.0, 12.0))
    assert(reader.readRange("t", "id", 21L, 1000L).count() == 0)
  }

  test("with a TTL, repeated reads amortize one listing and stay exact") {
    val root = tmpDir("snap-reuse")
    val ts = mk(root)
    // a TTL left in the conf by an older deployment is inert
    spark.conf.set("spark.graft.listingCacheTtlMs", "60000")
    try {
      val first = ts.listingsPerformed.get()
      ts.readRange("t", "id", 120L, 180L).count() // builds the snapshot
      assert(ts.listingsPerformed.get() - first <= 1)
      val other = new TableStore(spark, root)
      val (before, otherBefore) = (ts.listingsPerformed.get(), other.listingsPerformed.get())
      for (_ <- 1 to 5) {
        assert(ts.readRange("t", "id", 120L, 180L).count() == 61)
        assert(other.readRange("t", "id", 120L, 180L).count() == 61)
      }
      assert(ts.listingsPerformed.get() == before && other.listingsPerformed.get() == otherBefore,
        "reads of an unchanged table must not list it")
      other.append("t", rows(301L, 400L))
      assert(ts.readRange("t", "id", 120L, 400L).count() == 281,
        "a write must be visible at once, whatever TTL the conf holds")
    } finally spark.conf.unset("spark.graft.listingCacheTtlMs")
  }

  test("own appends and swaps are visible at once") {
    val ts = mk(tmpDir("snap-own"))
    assert(ts.readRange("t", "id", 301L, 400L).count() == 0)
    ts.append("t", rows(301L, 400L))
    assert(ts.readRange("t", "id", 301L, 400L).count() == 100,
      "an append through this instance must be visible immediately")
    ts.deleteWhere("t", col("id") <= 50L)
    assert(ts.readRange("t", "id", 1L, 100L).count() == 50)
    ts.compact("t")
    assert(ts.readRange("t", "id", 1L, 400L).count() == 350)
  }

  test("maxId sees a file written around TableStore at once") {
    val root = tmpDir("snap-maxid")
    val ts = mk(root)
    assert(ts.maxId("t", "id") == 300L) // also builds the snapshot
    dropForeign(root, 301L, 350L)
    assert(ts.maxId("t", "id") == 350L,
      "the allocator must list fresh: an under-reported max mints colliding ids")
  }

  test("a raw file is read from the table's next mutation") {
    val root = tmpDir("snap-foreign")
    val ts = mk(root)
    assert(ts.readRange("t", "id", 401L, 500L).count() == 0) // builds the snapshot
    dropForeign(root, 401L, 450L)
    new TableStore(spark, root).append("t", rows(451L, 500L))
    assert(ts.readRange("t", "id", 401L, 500L).count() == 100)
    assert(ts.sizeInBytes("t") == new java.io.File(s"$root/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum)
  }

  test("4 readers vs 20 appends: no error, monotone, exact") {
    val root = tmpDir("snap-stress")
    val reader = mk(root)
    val writer = new TableStore(spark, root)
    // the range skips the first file, so every read plans a pruned file list
    def visible(): Long = reader.readRange("t", "id", 101L, 10000L).count()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    @volatile var writing = true
    val seen = Array.fill(4)(scala.collection.mutable.ArrayBuffer.empty[Long])
    val threads = seen.map { counts =>
      new Thread(() =>
        try while (writing) counts += visible()
        catch { case e: Throwable => errors.add(e); () })
    }
    threads.foreach(_.start())
    try for (b <- 0 until 20) writer.append("t", rows(1001L + b * 10, 1010L + b * 10))
    finally { writing = false; threads.foreach(_.join()) }
    assert(errors.isEmpty, s"readers failed: ${errors.peek()}")
    for (counts <- seen) {
      assert(counts.nonEmpty)
      assert(counts.zip(counts.drop(1)).forall { case (a, b) => a <= b },
        s"a reader's counts went backwards: $counts")
      assert(counts.forall(n => n >= 200 && n <= 400))
    }
    assert(visible() == 400L)
  }
}
