package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins the partition-pruned CRUD contract: update/delete on a
  * hive-partitioned table rewrites ONLY the directories holding matching
  * rows — an untouched bucket's files keep their names and mtimes (zero
  * read or write I/O) — while semantics stay byte-identical to the
  * whole-table rewrite. This is the cluster-scale M1/M2 path: a
  * single-document cascade delete on a bucketed chunks table touches one
  * directory, not all of them.
  */
class PrunedRewriteSpec extends AnyFunSuite with SharedSpark {

  /** bucket dir → (file name → mtime) for visible parquet files. */
  private def bucketFiles(root: String, table: String): Map[String, Map[String, Long]] = {
    val base = new java.io.File(s"$root/$table")
    Option(base.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(d => d.isDirectory && d.getName.contains("="))
      .map { d =>
        d.getName -> Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toMap
      }.toMap
  }

  private def freshTable(root: String): TableStore = {
    import spark.implicits._
    val ts = new TableStore(spark, root)
    ts.appendPartitioned("t",
      (1L to 400L).map(i => (i, i % 4, s"v$i")).toDF("id", "bucket", "v"),
      Seq("bucket"))
    ts
  }

  test("deleteWhere rewrites only the matching bucket's directory") {
    import spark.implicits._
    val root = tmpDir("tables")
    val ts = freshTable(root)
    val before = bucketFiles(root, "t")
    assert(before.keySet == Set("bucket=0", "bucket=1", "bucket=2", "bucket=3"))

    // id 6 lives in bucket=2 only
    ts.deleteWhere("t", col("id") === 6L, partitionCols = Seq("bucket"))
    val after = bucketFiles(root, "t")
    assert(ts.read("t").count() == 399)
    assert(ts.read("t").filter(col("id") === 6L).isEmpty)
    for (b <- Seq("bucket=0", "bucket=1", "bucket=3"))
      assert(after(b) == before(b),
        s"$b holds no matching rows and must not be rewritten")
    assert(after("bucket=2") != before("bucket=2"))
  }

  test("updateWhere rewrites only the matching bucket and keeps semantics") {
    import spark.implicits._
    val root = tmpDir("tables")
    val ts = freshTable(root)
    val before = bucketFiles(root, "t")

    ts.updateWhere("t", col("id") === 9L, // bucket=1
      Map("v" -> lit("patched")), partitionCols = Seq("bucket"))
    val after = bucketFiles(root, "t")
    for (b <- Seq("bucket=0", "bucket=2", "bucket=3"))
      assert(after(b) == before(b))
    val got = ts.read("t")
      .select(col("id"), col("bucket").cast("long"), col("v"))
      .as[(Long, Long, String)].collect().toSet
    val want = (1L to 400L)
      .map(i => (i, i % 4, if (i == 9L) "patched" else s"v$i")).toSet
    assert(got == want, "pruned update must equal the whole-table rewrite")
  }

  test("a predicate matching nothing touches nothing") {
    import spark.implicits._
    val root = tmpDir("tables")
    val ts = freshTable(root)
    val before = bucketFiles(root, "t")
    ts.deleteWhere("t", col("id") === -42L, partitionCols = Seq("bucket"))
    assert(bucketFiles(root, "t") == before)
    assert(ts.read("t").count() == 400)
  }

  test("a flat-on-disk table addressed with partitionCols converges to hive directories") {
    import spark.implicits._
    val root = tmpDir("tables")
    val ts = new TableStore(spark, root)
    ts.append("t", (1L to 100L).map(i => (i, i % 4, s"v$i")).toDF("id", "bucket", "v"))
    // root-level parquet under a partitioned address takes the whole-table
    // rewrite before any discovery — even for a predicate matching nothing
    // (the rule merge already followed) — and that rewrite lays the table
    // out by bucket, so the next mutation can prune
    ts.deleteWhere("t", col("id") === -42L, partitionCols = Seq("bucket"))
    assert(bucketFiles(root, "t").keySet == (0 to 3).map(b => s"bucket=$b").toSet)
    assert(!new java.io.File(s"$root/t").listFiles()
      .exists(f => f.isFile && f.getName.endsWith(".parquet")),
      "no root-level parquet may survive next to the bucket directories")
    assert(ts.read("t").count() == 100)
  }

  test("NULL-valued predicates keep rows, pruned like the whole-table path") {
    import spark.implicits._
    val root = tmpDir("tables")
    val ts = new TableStore(spark, root)
    ts.appendPartitioned("t",
      Seq((Some(1L), 0L, "a"), (None, 0L, "orphan"), (Some(2L), 1L, "b"))
        .toDF("id", "bucket", "v"),
      Seq("bucket"))
    ts.deleteWhere("t", col("id") === 1L, partitionCols = Seq("bucket"))
    val left = ts.read("t").select("v").collect().map(_.getString(0)).sorted.toSeq
    assert(left == Seq("b", "orphan"), "NULL-id row must survive the delete")
  }

  test("deleting a bucket's every row removes its directory; emptying the table keeps it readable") {
    import spark.implicits._
    val root = tmpDir("tables")
    val ts = new TableStore(spark, root)
    ts.appendPartitioned("t",
      Seq((1L, 0L, "a"), (2L, 1L, "b")).toDF("id", "bucket", "v"),
      Seq("bucket"))
    ts.deleteWhere("t", col("bucket") === 0L, partitionCols = Seq("bucket"))
    assert(!new java.io.File(s"$root/t/bucket=0").exists()
      || bucketFiles(root, "t").get("bucket=0").forall(_.isEmpty))
    assert(ts.read("t").count() == 1)
    // empty the table entirely: must stay readable with full schema
    ts.deleteWhere("t", lit(true), partitionCols = Seq("bucket"))
    assert(ts.read("t").isEmpty)
    assert(ts.read("t").columns.toSet == Set("id", "bucket", "v"))
  }

  test("two-level partitioning: only the matching leaf directory is rewritten") {
    import spark.implicits._
    val root = tmpDir("tables")
    val ts = new TableStore(spark, root)
    ts.appendPartitioned("t",
      (1L to 200L).map(i => (i, i % 2, i % 3, s"v$i")).toDF("id", "a", "b", "v"),
      Seq("a", "b"))
    def leafFiles(): Map[String, Long] = {
      def walk(d: java.io.File): Seq[java.io.File] = {
        val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        kids ++ kids.filter(_.isDirectory).flatMap(walk)
      }
      walk(new java.io.File(s"$root/t")).filter(f =>
        f.isFile && f.getName.endsWith(".parquet") &&
          !f.getPath.split("/").exists(s => s.startsWith("_") || s.startsWith(".")))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = leafFiles()
    // id 7 → a=1, b=1: exactly one leaf dir rewritten
    ts.deleteWhere("t", col("id") === 7L, partitionCols = Seq("a", "b"))
    val after = leafFiles()
    assert(ts.read("t").count() == 199)
    val changed = before.keySet.filterNot(k => after.get(k).contains(before(k))) ++
      after.keySet.diff(before.keySet)
    assert(changed.forall(_.contains("a=1/b=1")),
      s"leaf dirs outside a=1/b=1 changed: $changed")
    assert(changed.nonEmpty, "the matching leaf must be rewritten")
  }

  test("the affected-values predicate lands in PartitionFilters, not DataFilters") {
    import spark.implicits._
    // the predicate shape rewriteSlice builds — null-safe conjunctions
    // OR'd per affected tuple — must prune at the partition level, or the
    // 'unaffected directories are never read' claim silently degrades to
    // a full scan with a post-filter
    val root = tmpDir("tables")
    val ts = freshTable(root)
    val pred = (col("bucket") <=> lit(2L)) || (col("bucket") <=> lit(3L))
    val scan = ts.read("t").filter(pred)
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [((bucket"),
      s"partition predicate not pruned:\n$scan")
    assert(scan.contains("DataFilters: []"),
      s"predicate leaked into per-row data filters:\n$scan")
  }

  test("a crash at any pruned-swap point is all-or-nothing at table level") {
    import spark.implicits._
    final class Boom extends RuntimeException("injected crash")
    val allIds = (1L to 400L).toSet
    // the same shared failpoints as the compaction / file-level paths:
    // the partitioned rewrite commits through stageAndSwap, so a
    // mid-window crash leaves the TABLE PATH absent (loud, retryable) —
    // never a readable table silently missing one partition directory
    for (crashAt <- Seq("tmp-written", "old-aside", "kept-moved", "swapped")) {
      val root = tmpDir(s"tables-pr-$crashAt")
      val ts = freshTable(root)
      ts.failpoint = at => if (at == crashAt) throw new Boom
      // touches bucket=0 and bucket=1 (two directories)
      intercept[Boom] {
        ts.deleteWhere("t", col("id") === 4L || col("id") === 5L,
          partitionCols = Seq("bucket"))
      }
      ts.failpoint = _ => ()
      def ids(path: String): Set[Long] =
        spark.read.parquet(path).select("id").as[Long].collect().toSet
      val siblings = new java.io.File(root).listFiles().map(_.getName).toSeq
      crashAt match {
        case "tmp-written" =>
          assert(ids(s"$root/t") == allIds, s"[$crashAt] fully-old")
          // re-running the statement completes it
          ts.deleteWhere("t", col("id") === 4L || col("id") === 5L,
            partitionCols = Seq("bucket"))
          assert(ts.read("t").count() == 398)
        case "old-aside" =>
          assert(!ts.exists("t"), s"[$crashAt] table path must be absent")
          val old = siblings.find(_.startsWith("t.old-")).get
          assert(ids(s"$root/$old") == allIds, s"[$crashAt] all-old in sibling")
        case "kept-moved" =>
          assert(!ts.exists("t"), s"[$crashAt] table path must be absent")
          val tmp = siblings.find(_.startsWith("t.tmp-")).get
          assert(ids(s"$root/$tmp") == allIds -- Set(4L, 5L),
            s"[$crashAt] staged dir holds the complete new table")
        case "swapped" =>
          assert(ids(s"$root/t") == allIds -- Set(4L, 5L),
            s"[$crashAt] fully-new")
      }
    }
  }
}
