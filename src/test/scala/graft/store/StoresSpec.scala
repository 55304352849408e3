package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class StoresSpec extends AnyFunSuite with SharedSpark {

  test("TableStore append / read / maxId round-trip") {
    import spark.implicits._
    val ts = new TableStore(spark, tmpDir("tables"))
    ts.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ts.append("t", Seq((3L, "c")).toDF("id", "v"))
    assert(ts.read("t").count() == 3)
    assert(ts.maxId("t", "id") == 3L)
    assert(ts.maxId("missing", "id") == 0L)
  }

  test("maxId answers from footer statistics and falls back when it cannot") {
    import spark.implicits._
    val ts = new TableStore(spark, tmpDir("tables"))
    // multi-file, multi-partition table: footer stats must see every file
    ts.appendPartitioned("p",
      (1L to 500L).map(i => (i, i % 4)).toDF("id", "b").repartition(7),
      Seq("b"))
    ts.appendPartitioned("p", Seq((9999L, 5L)).toDF("id", "b"), Seq("b"))
    // the footer path itself must answer here (not a silent scan fallback)
    assert(ts.footerMaxId("p", "id") == Some(9999L))
    assert(ts.maxId("p", "id") == 9999L)
    // all-null id column: footer has no non-null values → 0, like the scan
    ts.append("n", Seq(Tuple1("x"), Tuple1("y")).toDF("v")
      .withColumn("id", lit(null).cast("long")))
    assert(ts.footerMaxId("n", "id") == Some(0L))
    assert(ts.maxId("n", "id") == 0L)
    // id as the PARTITION column is absent from footers: footers must
    // DECLINE (an under-reported max would mint colliding ids) and the
    // scan fallback answers from the hive-style directory values
    ts.appendPartitioned("h", Seq((1L, "a"), (7L, "b")).toDF("id", "v"), Seq("id"))
    assert(ts.footerMaxId("h", "id").isEmpty)
    assert(ts.maxId("h", "id") == 7L)
  }

  test("updateWhere rewrites only matching rows, atomically") {
    import spark.implicits._
    val ts = new TableStore(spark, tmpDir("tables"))
    ts.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ts.updateWhere("t", col("id") === 2L, Map("v" -> lit("patched")))
    val rows = ts.read("t").orderBy("id").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "a"), (2L, "patched")))
  }

  test("deleteWhere keeps the complement") {
    import spark.implicits._
    val ts = new TableStore(spark, tmpDir("tables"))
    ts.append("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    ts.deleteWhere("t", col("id") >= 2L)
    assert(ts.read("t").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("deleteWhere keeps rows where the predicate is NULL") {
    import spark.implicits._
    val ts = new TableStore(spark, tmpDir("tables"))
    ts.append("t", Seq((Some(1L), "a"), (None, "orphan"), (Some(2L), "b"))
      .toDF("id", "v"))
    ts.deleteWhere("t", col("id") === 1L)
    val rows = ts.read("t").select("v").collect().map(_.getString(0)).sorted.toSeq
    assert(rows == Seq("b", "orphan")) // NULL-id row survives
  }

  test("a crash at ANY swap point leaves the table fully-old or fully-new") {
    import spark.implicits._
    val oldRows = Set((1L, "a"), (2L, "b"))
    val newRows = Set((10L, "x"), (11L, "y"), (12L, "z"))
    def snapshot(ts: TableStore): Set[(Long, String)] =
      ts.read("t").as[(Long, String)].collect().toSet

    final class Boom extends RuntimeException("injected crash")
    // one fresh store per crash point: a stranded .tmp-/.old- sibling from
    // an earlier injection must not leak into the next scenario
    for (crashAt <- Seq("tmp-written", "old-aside", "kept-moved", "swapped")) {
      val root = tmpDir(s"tables-crash-$crashAt")
      val ts = new TableStore(spark, root)
      ts.append("t", oldRows.toSeq.toDF("id", "v"))
      ts.setTableProp("t", "buckets", "16")
      ts.failpoint = at => if (at == crashAt) throw new Boom
      intercept[Boom] {
        ts.overwriteAtomic("t", newRows.toSeq.toDF("id", "v"))
      }
      ts.failpoint = _ => ()

      crashAt match {
        case "tmp-written" =>
          // nothing renamed yet: readers still see the old table, props
          // untouched; the half-committed data sits only in .tmp-*
          assert(snapshot(ts) == oldRows, s"[$crashAt] expected all-old")
          assert(ts.getTableProp("t", "buckets").contains("16"))
        case "old-aside" | "kept-moved" =>
          // inside the two-rename window: the table path is ABSENT (a
          // retryable read failure, per the scaladoc), and the complete
          // old table — props included — is recoverable in .old-*
          assert(!ts.exists("t"), s"[$crashAt] table path should be absent")
          val oldDir = new java.io.File(root).listFiles()
            .map(_.getName).filter(_.startsWith("t.old-")).toSeq
          assert(oldDir.size == 1, s"[$crashAt] expected one .old-* sibling")
          val rescued = new TableStore(spark, root)
          assert(rescued.read(oldDir.head).as[(Long, String)]
            .collect().toSet == oldRows, s"[$crashAt] .old-* must be all-old")
          assert(rescued.getTableProp(oldDir.head, "buckets").contains("16"))
        case "swapped" =>
          // commit point passed: fully-new, props traveled with the swap
          assert(snapshot(ts) == newRows, s"[$crashAt] expected all-new")
          assert(ts.getTableProp("t", "buckets").contains("16"))
      }
    }
  }

  test("empty partitioned append is a no-op and never poisons the table") {
    import spark.implicits._
    val ts = new TableStore(spark, tmpDir("tables"))
    val empty = Seq.empty[(Long, Int, String)].toDF("id", "bucket", "v")
    ts.appendPartitioned("t", empty, Seq("bucket")) // first-ever: no-op
    assert(!ts.exists("t"))
    ts.appendPartitioned("t", Seq((1L, 0, "a")).toDF("id", "bucket", "v"), Seq("bucket"))
    ts.appendPartitioned("t", empty, Seq("bucket")) // later empty: no-op
    assert(ts.read("t").count() == 1)
  }

  test("a partitioned append told its row count runs no emptiness job") {
    import spark.implicits._
    val rows = Seq((1L, 0, "a"), (2L, 1, "b")).toDF("id", "bucket", "v").repartition(2)
    def jobs(table: String, count: Option[Long]): Int = {
      val ts = new TableStore(spark, tmpDir("tables"))
      graft.SparkJobs.during(spark)(ts.appendPartitioned(table, rows, Seq("bucket"), count))._2
    }
    assert(jobs("t", Some(2L)) < jobs("t", None))
    val ts = new TableStore(spark, tmpDir("tables"))
    val (_, none) = graft.SparkJobs.during(spark)(
      ts.appendPartitioned("t", rows.filter($"id" < 0), Seq("bucket"), Some(0L)))
    assert(none == 0 && !ts.exists("t"))
  }

  test("compact merges small files without changing content") {
    import spark.implicits._
    val root = tmpDir("tables")
    val ts = new TableStore(spark, root)
    (1 to 5).foreach(i => ts.append("t", Seq((i.toLong, s"v$i")).toDF("id", "v")))
    def files = new java.io.File(s"$root/t").listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(files >= 5)
    val before = ts.read("t").orderBy("id").collect().toSeq
    ts.compact("t")
    assert(files == 1)
    assert(ts.read("t").orderBy("id").collect().toSeq == before)
  }

  test("schemaless JSON columns round-trip ad-hoc shapes (FIXTURES A.2)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.get_json_object
    val ts = new TableStore(spark, tmpDir("tables"))
    // the reference demo stores entities with ad-hoc keys the NER never
    // produces (markets/metrics/values — repository.py:235-260); the JSON
    // string column must carry them unchanged
    val adHoc = """{"markets":["AI","Cloud Computing"],"locations":["Silicon Valley"]}"""
    val nerShaped = """{"persons":[],"organizations":["TechCorp"],"dates":["2024-02-13"],"locations":[],"misc":[{"text":"x","label":"MISC"}]}"""
    ts.append("chunks", Seq((1L, adHoc), (2L, nerShaped)).toDF("id", "entities"))
    val back = ts.read("chunks").orderBy("id")
      .select(get_json_object(col("entities"), "$.markets[0]").as("m"),
        get_json_object(col("entities"), "$.organizations[0]").as("o"),
        col("entities"))
      .collect()
    assert(back(0).getString(0) == "AI")
    assert(back(0).getString(2) == adHoc) // byte-identical round-trip
    assert(back(1).getString(1) == "TechCorp")
    assert(back(1).getString(2) == nerShaped)
  }

  test("ObjectStore put/get/delete with the chart key convention (minio.py:46)") {
    val os = new ObjectStore(spark, tmpDir("bucket"))
    val key = os.chartKey(7L, 3L)
    assert(key == "documents/7/charts/3.png")
    val data = Array[Byte](1, 2, 3, 4)
    os.put(key, data)
    val got = os.get(key)
    assert(got.exists(_._1.sameElements(data)))
    assert(got.exists(_._2 == "image/png"))
    assert(os.delete(key))
    assert(os.get(key).isEmpty)
  }

  test("ObjectStore.putAll writes from executors") {
    import spark.implicits._
    val os = new ObjectStore(spark, tmpDir("bucket"))
    val df = Seq(("k/1.png", Array[Byte](1)), ("k/2.png", Array[Byte](2, 2)))
      .toDF("key", "content")
    os.putAll(df)
    assert(os.get("k/1.png").exists(_._1.sameElements(Array[Byte](1))))
    assert(os.get("k/2.png").exists(_._1.length == 2))
  }

  test("appendPartitioned recovers a table wedged by a crashed write (_temporary only)") {
    import spark.implicits._
    val root = tmpDir("crashed")
    val tables = new TableStore(spark, root)
    // simulate a killed first write: only _temporary content exists —
    // the leaf file NAME looks like data, but every path component under
    // the table root is hidden
    val tmp = java.nio.file.Paths.get(root, "t", "_temporary", "0", "task_1")
    java.nio.file.Files.createDirectories(tmp)
    java.nio.file.Files.write(tmp.resolve("part-00000-dead.parquet"),
      Array[Byte](1, 2, 3))
    // the broken dir must read as "no data" and be cleared, not wedge
    tables.appendPartitioned("t", Seq((1L, "a")).toDF("id", "p"), Seq("p"))
    assert(tables.read("t").count() == 1)
  }

  test("audit reports zero violations on a healthy ingest, flags corruption") {
    import spark.implicits._
    import java.nio.charset.StandardCharsets
    import java.nio.file.{Files, Paths}
    val inbox = tmpDir("inbox-audit")
    Files.write(Paths.get(inbox, "doc.pdf"),
      "T:\nsome body text with content.\nTABLE: numbers\n"
        .getBytes(StandardCharsets.UTF_8))
    val root = tmpDir("store-audit")
    val tables = new TableStore(spark, s"$root/tables")
    val objects = new graft.store.ObjectStore(spark, s"$root/bucket")
    val pipe = new graft.pipeline.IngestPipeline(spark, tables, objects,
      graft.pipeline.ProcessingConfig(flagNearDups = true))
    pipe.ingest(inbox, java.sql.Timestamp.valueOf("2026-01-15 08:30:00"))

    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val healthy = Audit.check(spark, tables, objects)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(healthy.values.forall(_ == 0L), s"unexpected violations: $healthy")
    assert(healthy.size == 15)
    // the audit caches its shared inputs (documents seeded into the same
    // map ifTable uses — one entry per table, never two) and must release
    // every one of them on the way out
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"audit leaked cached RDDs: $leaked")

    // corrupt: orphan chunk row + delete a stored blob + orphan blob
    tables.appendPartitioned("document_chunks",
      tables.read("document_chunks").limit(1)
        .withColumn("document_id", lit(999999L))
        .withColumn("id", lit(424242L)), Seq("doc_bucket"))
    val key = tables.read("chart_data").select("image_path").head().getString(0)
    objects.delete(key)
    objects.put("documents/55/charts/55.png", Array[Byte](1))
    val bad = Audit.check(spark, tables, objects)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bad("chunks_orphaned") == 1L, s"$bad")
    assert(bad("blobs_missing") == 1L, s"$bad")
    assert(bad("blobs_orphaned") == 1L, s"$bad")
    assert(bad("total_chunks_mismatch") == 0L, s"$bad") // orphan doc not in documents
    // hidden path segments are rejected at put time: they would be stored
    // but invisible to listKeys()/the audit
    intercept[IllegalArgumentException] {
      objects.put("documents/1/charts/.hidden.png", Array[Byte](1))
    }

    // GC reclaims exactly the orphan (referenced blobs survive), is
    // idempotent, and leaves the blobs_orphaned check clean
    val referenced = tables.read("chart_data").select("image_path")
      .collect().map(_.getString(0)).filter(objects.get(_).isDefined)
    assert(Audit.gcOrphanBlobs(tables, objects) == 1L)
    assert(objects.get("documents/55/charts/55.png").isEmpty, "orphan removed")
    referenced.foreach(k => assert(objects.get(k).isDefined, s"$k must survive GC"))
    assert(Audit.gcOrphanBlobs(tables, objects) == 0L, "idempotent")
    val after = Audit.check(spark, tables, objects)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("blobs_orphaned") == 0L, s"$after")

    // a chart_data path absent because a swap CRASHED mid-window (swap
    // debris present) must refuse GC — classifying every referenced blob
    // as orphan there would turn a recoverable crash into blob loss
    val fs = new java.io.File(s"$root/tables")
    assert(new java.io.File(fs, "chart_data").renameTo(
      new java.io.File(fs, "chart_data.old-99")), "simulate crashed swap")
    val e = intercept[IllegalStateException] {
      Audit.gcOrphanBlobs(tables, objects)
    }
    assert(e.getMessage.contains("swap siblings"), e.getMessage)
    referenced.foreach(k => assert(objects.get(k).isDefined,
      s"$k must survive the refused GC"))
    assert(new java.io.File(fs, "chart_data.old-99").renameTo(
      new java.io.File(fs, "chart_data")), "recover the table")
    assert(Audit.gcOrphanBlobs(tables, objects) == 0L,
      "recovered table: nothing orphaned")
  }

  test("listTables: visible dirs + debris-derived names, internals excluded") {
    import spark.implicits._
    val root = tmpDir("list-tables")
    val ts = new TableStore(spark, root)
    ts.append("alpha", Seq((1L, "a")).toDF("id", "v"))
    ts.append("beta", Seq((1L, "b")).toDF("id", "v"))
    // a mid-swap-absent table is recoverable only from its debris name —
    // the ops index must not lose it
    assert(new java.io.File(s"$root/gamma.old-12345").mkdirs())
    // internals and hidden entries never read as tables
    assert(new java.io.File(s"$root/_graft_pre_leases").mkdirs())
    assert(new java.io.File(s"$root/.hidden").mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "stray.txt"), "x".getBytes)
    assert(ts.listTables() == Seq("alpha", "beta", "gamma"))
    assert(new TableStore(spark, tmpDir("list-empty")).listTables().isEmpty)
  }
}
