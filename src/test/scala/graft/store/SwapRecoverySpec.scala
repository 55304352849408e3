package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins [[TableStore.recoverSwapDebris]]: a crash at EVERY failpoint of
  * every commit path (whole-table overwrite, incremental compaction,
  * file-pruned and partition-pruned CRUD), followed by recovery, must
  * leave the table readable as exactly fully-old or fully-new rows, props
  * intact, all `.old-*`/`.tmp-*` debris gone, `hasSwapDebris` false — and
  * destructive maintenance ([[Audit.gcOrphanBlobs]]) runnable again.
  */
class SwapRecoverySpec extends AnyFunSuite with SharedSpark {

  private final class Boom extends RuntimeException("injected crash")

  private def siblings(root: String, table: String): Seq[String] =
    new java.io.File(root).listFiles().map(_.getName)
      .filter(n => n.startsWith(table + ".old-") || n.startsWith(table + ".tmp-"))
      .toSeq

  private def assertClean(ts: TableStore, root: String, table: String): Unit = {
    assert(siblings(root, table).isEmpty, "debris must be gone")
    assert(!ts.hasSwapDebris(table))
    // recovery is idempotent: nothing left to do
    assert(ts.recoverSwapDebris(table) == SwapRecovery.NoDebris)
    // markers never linger in the live table
    val live = new java.io.File(s"$root/$table")
    if (live.exists())
      assert(!live.listFiles().map(_.getName)
        .exists(n => n == "_swap_staged" || n == "_swap_kept"),
        "swap markers must not survive in the live table")
  }

  test("overwriteAtomic crash at every failpoint recovers to old or new") {
    import spark.implicits._
    val oldRows = Set((1L, "a"), (2L, "b"))
    val newRows = Set((10L, "x"), (11L, "y"))
    for (crashAt <- Seq("tmp-written", "old-aside", "kept-moved", "swapped")) {
      val root = tmpDir(s"rec-ow-$crashAt")
      val ts = new TableStore(spark, root)
      ts.append("t", oldRows.toSeq.toDF("id", "v"))
      ts.setTableProp("t", "buckets", "16")
      ts.failpoint = at => if (at == crashAt) throw new Boom
      intercept[Boom] { ts.overwriteAtomic("t", newRows.toSeq.toDF("id", "v")) }
      ts.failpoint = _ => ()

      val outcome = ts.recoverSwapDebris("t")
      val got = ts.read("t").as[(Long, String)].collect().toSet
      crashAt match {
        case "tmp-written" => // table was live: debris dropped, fully-old
          assert(outcome == SwapRecovery.CleanedUp)
          assert(got == oldRows, s"[$crashAt]")
        case "old-aside" | "kept-moved" => // staged dir provably complete: committed
          assert(outcome == SwapRecovery.RolledForward)
          assert(got == newRows, s"[$crashAt]")
        case "swapped" => // commit point passed: stale .old-* dropped
          assert(outcome == SwapRecovery.CleanedUp)
          assert(got == newRows, s"[$crashAt]")
      }
      assert(ts.getTableProp("t", "buckets").contains("16"),
        s"[$crashAt] props must survive recovery")
      assertClean(ts, root, "t")
    }
  }

  test("first-ever write crash (no prior table) rolls forward") {
    import spark.implicits._
    // before the window and inside it: with no table to set aside, the
    // commit is the lone tmp→dest rename, so only the staged dir exists
    for (crashAt <- Seq("tmp-written", "old-aside")) {
      val root = tmpDir(s"rec-first-$crashAt")
      val ts = new TableStore(spark, root)
      ts.failpoint = at => if (at == crashAt) throw new Boom
      intercept[Boom] {
        ts.overwriteAtomic("t", Seq((1L, "a")).toDF("id", "v"))
      }
      ts.failpoint = _ => ()
      assert(!ts.exists("t"))
      assert(siblings(root, "t").forall(_.startsWith("t.tmp-")), s"[$crashAt]")
      // the staged dir is complete and nothing older exists — commit it
      assert(ts.recoverSwapDebris("t") == SwapRecovery.RolledForward, s"[$crashAt]")
      assert(ts.read("t").as[(Long, String)].collect().toSet == Set((1L, "a")))
      assertClean(ts, root, "t")
    }
  }

  test("compaction crash at every failpoint recovers losslessly") {
    import spark.implicits._
    val allRows = ((1L to 5000L) ++ Seq(90001L, 90002L, 90003L)).toSet
    for (crashAt <- Seq("tmp-written", "old-aside", "kept-moved", "swapped")) {
      val root = tmpDir(s"rec-cc-$crashAt")
      val ts = new TableStore(spark, root)
      ts.append("t", (1L to 5000L).map(i => (i, "x")).toDF("id", "v").coalesce(1))
      val threshold = ts.sizeInBytes("t")
      (1 to 3).foreach(i => ts.append("t", Seq((90000L + i, "t")).toDF("id", "v")))
      ts.failpoint = at => if (at == crashAt) throw new Boom
      intercept[Boom] { ts.compactIncremental("t", smallThreshold = threshold) }
      ts.failpoint = _ => ()

      val outcome = ts.recoverSwapDebris("t")
      // whichever side recovery lands on, the ROWS are identical — the
      // compaction rewrote layout, not content
      assert(ts.read("t").select("id").as[Long].collect().toSet == allRows,
        s"[$crashAt] rows lost or duplicated")
      crashAt match {
        case "tmp-written" => assert(outcome == SwapRecovery.CleanedUp)
        case "old-aside"   => assert(outcome == SwapRecovery.RolledBack)
        case "kept-moved"  => assert(outcome == SwapRecovery.RolledForward)
        case "swapped"     => assert(outcome == SwapRecovery.CleanedUp)
      }
      assertClean(ts, root, "t")
    }
  }

  test("a partially-moved kept set rolls back completely") {
    import spark.implicits._
    val allRows = ((1L to 10000L) ++ Seq(90001L, 90002L, 90003L)).toSet
    val root = tmpDir("rec-partial")
    val ts = new TableStore(spark, root)
    // TWO big files so the kept manifest has ≥2 entries (a one-entry
    // manifest fully moved is a complete stage — roll-forward territory)
    ts.append("t", (1L to 5000L).map(i => (i, "x")).toDF("id", "v").coalesce(1))
    val sizeA = ts.sizeInBytes("t")
    ts.append("t", (5001L to 10000L).map(i => (i, "x")).toDF("id", "v").coalesce(1))
    val threshold = math.min(sizeA, ts.sizeInBytes("t") - sizeA)
    (1 to 3).foreach(i => ts.append("t", Seq((90000L + i, "t")).toDF("id", "v")))
    // crash inside the window before any kept move...
    ts.failpoint = at => if (at == "old-aside") throw new Boom
    intercept[Boom] { ts.compactIncremental("t", smallThreshold = threshold) }
    ts.failpoint = _ => ()
    // ...then reproduce a mid-loop hard crash byte-for-byte: move ONE
    // manifest file from .old-* into .tmp-*, exactly as the kept loop does
    val dir = new java.io.File(root)
    val old = dir.listFiles().map(_.getName).find(_.startsWith("t.old-")).get
    val tmp = dir.listFiles().map(_.getName).find(_.startsWith("t.tmp-")).get
    val manifest = scala.io.Source.fromFile(s"$root/$tmp/_swap_kept")
    val rels = try manifest.getLines().filter(_.nonEmpty).toList
               finally manifest.close()
    assert(rels.nonEmpty, "compaction must have carried kept files")
    assert(new java.io.File(s"$root/$old/${rels.head}")
      .renameTo(new java.io.File(s"$root/$tmp/${rels.head}")),
      "simulate one completed kept move")

    assert(ts.recoverSwapDebris("t") == SwapRecovery.RolledBack)
    assert(ts.read("t").select("id").as[Long].collect().toSet == allRows,
      "rolled-back table must hold every row, moved kept file returned")
    assertClean(ts, root, "t")
  }

  test("partition-pruned CRUD crash recovers with untouched dirs intact") {
    import spark.implicits._
    for (crashAt <- Seq("old-aside", "kept-moved")) {
      val root = tmpDir(s"rec-pr-$crashAt")
      val ts = new TableStore(spark, root)
      val rows = (1L to 400L).map(i => (i, i % 8, s"v$i"))
      ts.appendPartitioned("t", rows.toDF("id", "b", "v"), Seq("b"))
      ts.failpoint = at => if (at == crashAt) throw new Boom
      intercept[Boom] {
        // touches ONE of eight partition dirs — seven cross as kept renames
        ts.deleteWhere("t", col("b") === 3L, partitionCols = Seq("b"))
      }
      ts.failpoint = _ => ()

      val outcome = ts.recoverSwapDebris("t")
      val got = ts.read("t").select("id").as[Long].collect().toSet
      crashAt match {
        case "old-aside" => // nothing moved: fully-old restored
          assert(outcome == SwapRecovery.RolledBack)
          assert(got == (1L to 400L).toSet, s"[$crashAt]")
        case "kept-moved" => // staged + kept complete: the delete committed
          assert(outcome == SwapRecovery.RolledForward)
          assert(got == (1L to 400L).filter(_ % 8 != 3).toSet, s"[$crashAt]")
      }
      assertClean(ts, root, "t")
    }
  }

  test("file-pruned CRUD crash recovers") {
    import spark.implicits._
    for (crashAt <- Seq("old-aside", "kept-moved")) {
      val root = tmpDir(s"rec-fp-$crashAt")
      val ts = new TableStore(spark, root)
      // several files so the rewrite prunes to a strict subset
      (0 until 6).foreach { f =>
        ts.append("t", (1L to 50L).map(i => (f * 100L + i, s"v$i"))
          .toDF("id", "v").coalesce(1))
      }
      val before = ts.read("t").select("id").as[Long].collect().toSet
      ts.failpoint = at => if (at == crashAt) throw new Boom
      intercept[Boom] {
        ts.updateWhere("t", col("id") === 1L, Map("v" -> lit("patched")))
      }
      ts.failpoint = _ => ()

      val outcome = ts.recoverSwapDebris("t")
      assert(ts.read("t").select("id").as[Long].collect().toSet == before,
        s"[$crashAt] ids lost or duplicated")
      val patched = ts.read("t").filter(col("v") === "patched").count()
      crashAt match {
        case "old-aside" =>
          assert(outcome == SwapRecovery.RolledBack)
          assert(patched == 0L, s"[$crashAt] rolled back ⇒ unpatched")
        case "kept-moved" =>
          assert(outcome == SwapRecovery.RolledForward)
          assert(patched == 1L, s"[$crashAt] rolled forward ⇒ patched")
      }
      assertClean(ts, root, "t")
    }
  }

  test("gcOrphanBlobs refuses on debris, runs clean after recovery") {
    import spark.implicits._
    val root = tmpDir("rec-gc")
    val ts = new TableStore(spark, root + "/tables")
    val os = new ObjectStore(spark, root + "/bucket")
    val key = "documents/1/charts/7.png"
    os.put(key, Array[Byte](1, 2, 3))
    ts.append("chart_data", Seq((7L, 1L, key)).toDF("id", "document_id", "image_path"))
    // a REAL crashed swap (not a simulated rename): mid-window absence
    ts.failpoint = at => if (at == "old-aside") throw new Boom
    intercept[Boom] {
      ts.overwriteAtomic("chart_data",
        Seq((7L, 1L, key)).toDF("id", "document_id", "image_path"))
    }
    ts.failpoint = _ => ()
    assert(!ts.exists("chart_data") && ts.hasSwapDebris("chart_data"))
    val e = intercept[IllegalStateException] { Audit.gcOrphanBlobs(ts, os) }
    assert(e.getMessage.contains("recoverSwapDebris"), e.getMessage)
    assert(os.get(key).isDefined, "referenced blob must survive the refusal")

    assert(ts.recoverSwapDebris("chart_data") == SwapRecovery.RolledForward)
    assert(Audit.gcOrphanBlobs(ts, os) == 0L,
      "recovered table: its referenced blob is not an orphan")
    assert(os.get(key).isDefined)
    assertClean(ts, root + "/tables", "chart_data")
  }

  test("a crash DURING recovery's own roll-forward is re-recognized") {
    import spark.implicits._
    val root = tmpDir("rec-rerec")
    val ts = new TableStore(spark, root)
    val rows = (1L to 400L).map(i => (i, i % 8, s"v$i"))
    ts.appendPartitioned("t", rows.toDF("id", "b", "v"), Seq("b"))
    // produce a roll-forward-eligible state: staged complete, kept moved
    ts.failpoint = at => if (at == "kept-moved") throw new Boom
    intercept[Boom] {
      ts.deleteWhere("t", col("b") === 3L, partitionCols = Seq("b"))
    }
    // first recovery run crashes right AFTER its commit rename — the
    // markers are still inside the now-live table, .old-* still beside it
    ts.failpoint = at => if (at == "recovery-committed") throw new Boom
    intercept[Boom] { ts.recoverSwapDebris("t") }
    ts.failpoint = _ => ()
    // the re-run must read this as "table live, stale debris" — never as
    // an incomplete stage (which would delete or restore the wrong side)
    assert(ts.recoverSwapDebris("t") == SwapRecovery.CleanedUp)
    assert(ts.read("t").select("id").as[Long].collect().toSet ==
      (1L to 400L).filter(_ % 8 != 3).toSet,
      "re-run must keep the committed fully-new table")
    assertClean(ts, root, "t")
  }

  test("recoverAllSwapDebris heals every affected table from one listing") {
    import spark.implicits._
    val root = tmpDir("rec-all")
    val ts = new TableStore(spark, root)
    ts.append("alpha", Seq((1L, "a")).toDF("id", "v"))
    ts.append("beta", Seq((2L, "b")).toDF("id", "v"))
    ts.append("clean", Seq((3L, "c")).toDF("id", "v"))
    for (t <- Seq("alpha", "beta")) {
      ts.failpoint = at => if (at == "old-aside") throw new Boom
      intercept[Boom] {
        ts.overwriteAtomic(t, Seq((9L, "n")).toDF("id", "v"))
      }
      ts.failpoint = _ => ()
    }
    val outcomes = ts.recoverAllSwapDebris()
    // only the tables WITH debris appear, each rolled forward (staged
    // dir was complete); the clean table is untouched and unlisted
    assert(outcomes == Map("alpha" -> SwapRecovery.RolledForward,
      "beta" -> SwapRecovery.RolledForward))
    assert(ts.read("alpha").as[(Long, String)].collect().toSet == Set((9L, "n")))
    assert(ts.read("clean").as[(Long, String)].collect().toSet == Set((3L, "c")))
    assert(ts.recoverAllSwapDebris().isEmpty, "second run: clean store")
    for (t <- Seq("alpha", "beta")) assertClean(ts, root, t)
  }

  test("batch ingest auto-heals a crashed swap instead of forking the table") {
    import graft.pipeline.{IngestPipeline, ProcessingConfig}
    import graft.store.ObjectStore
    import spark.implicits._
    val root = tmpDir("rec-ingest")
    val ts = new TableStore(spark, root + "/tables")
    val os = new ObjectStore(spark, root + "/bucket")
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    java.nio.file.Files.write(inbox.toPath.resolve("one.pdf"),
      "%PDF-1.4 hello swap recovery".getBytes("UTF-8"))
    val pipeline = new IngestPipeline(spark, ts, os, ProcessingConfig())
    pipeline.ingest(inbox.getAbsolutePath)
    val before = ts.read("documents").count()
    assert(before == 1L)
    // a maintenance swap crashes mid-window: documents is absent, its
    // bytes live only in the siblings
    val snap = ts.read("documents").localCheckpoint()
    ts.failpoint = at => if (at == "old-aside") throw new Boom
    intercept[Boom] { ts.overwriteAtomic("documents", snap) }
    ts.failpoint = _ => ()
    assert(!ts.exists("documents") && ts.hasSwapDebris("documents"))
    // the next ingest must FIRST restore the table, then append — without
    // recovery the append would create a fresh `documents` dir and the
    // original row would be stranded in the .old-* sibling
    java.nio.file.Files.write(inbox.toPath.resolve("two.pdf"),
      "%PDF-1.4 second file".getBytes("UTF-8"))
    val inbox2 = new java.io.File(root, "inbox2"); inbox2.mkdirs()
    java.nio.file.Files.write(inbox2.toPath.resolve("two.pdf"),
      "%PDF-1.4 second file".getBytes("UTF-8"))
    pipeline.ingest(inbox2.getAbsolutePath)
    assert(ts.read("documents").count() == 2L,
      "both the recovered row and the new row must be present")
    assertClean(ts, root + "/tables", "documents")
  }

  test("a crash after the sibling-less roll-forward commit sweeps markers on re-run") {
    import spark.implicits._
    val root = tmpDir("rec-firstcrash")
    val ts = new TableStore(spark, root)
    ts.failpoint = at => if (at == "tmp-written") throw new Boom
    intercept[Boom] { ts.overwriteAtomic("t", Seq((1L, "a")).toDF("id", "v")) }
    // recovery commits the staged first write, then crashes before its
    // marker delete: table live WITH markers inside, no siblings left
    ts.failpoint = at => if (at == "recovery-committed") throw new Boom
    intercept[Boom] { ts.recoverSwapDebris("t") }
    ts.failpoint = _ => ()
    assert(ts.exists("t"))
    // the sibling-less re-run must still sweep the leaked markers
    assert(ts.recoverSwapDebris("t") == SwapRecovery.NoDebris)
    assertClean(ts, root, "t")
    assert(ts.read("t").as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("operator backups that merely LOOK like swap siblings are untouchable") {
    import spark.implicits._
    val root = tmpDir("rec-backup")
    val ts = new TableStore(spark, root)
    ts.append("t", Seq((1L, "a")).toDF("id", "v"))
    // an operator's manual copy — NOT the protocol's .old-<nanos> shape
    val backup = new java.io.File(root, "t.old-backup")
    assert(backup.mkdirs())
    java.nio.file.Files.write(backup.toPath.resolve("precious.txt"),
      "do not delete".getBytes("UTF-8"))
    // a Unicode-digit suffix is ALSO not the protocol's shape: nanoTime
    // emits ASCII only, and the debris classifiers must agree on that
    val unicodeDigits = new java.io.File(root, "t.old-３４")
    assert(unicodeDigits.mkdirs())
    assert(!ts.hasSwapDebris("t"), "a non-protocol name is not debris")
    assert(ts.recoverSwapDebris("t") == SwapRecovery.NoDebris)
    assert(ts.recoverAllSwapDebris().isEmpty)
    assert(backup.exists() && backup.toPath.resolve("precious.txt").toFile.exists(),
      "recovery must never classify foreign directories as stale debris")
    assert(unicodeDigits.exists())
  }

  test("recoverAllSwapDebris heals the healable tables before refusing") {
    import spark.implicits._
    val root = tmpDir("rec-partialall")
    val ts = new TableStore(spark, root)
    ts.append("good", Seq((1L, "a")).toDF("id", "v"))
    ts.failpoint = at => if (at == "old-aside") throw new Boom
    intercept[Boom] { ts.overwriteAtomic("good", Seq((9L, "n")).toDF("id", "v")) }
    ts.failpoint = _ => ()
    // an unrecoverable foreign state for ANOTHER table: absent dest with
    // two same-kind protocol-shaped siblings
    new java.io.File(root, "bad.old-1").mkdirs()
    new java.io.File(root, "bad.old-2").mkdirs()
    val e = intercept[IllegalStateException] { ts.recoverAllSwapDebris() }
    assert(e.getMessage.contains("bad"), e.getMessage)
    // the refusal did NOT strand the healable table
    assert(ts.read("good").as[(Long, String)].collect().toSet == Set((9L, "n")))
    assertClean(ts, root, "good")
  }

  test("foreign same-kind sibling pairs refuse loudly") {
    import spark.implicits._
    val root = tmpDir("rec-foreign")
    val ts = new TableStore(spark, root)
    ts.append("t", Seq((1L, "a")).toDF("id", "v"))
    val dir = new java.io.File(root)
    // absent table + two .old-* siblings: no single crash produces this
    assert(new java.io.File(dir, "t").renameTo(new java.io.File(dir, "t.old-1")))
    new java.io.File(dir, "t.old-2").mkdirs()
    intercept[IllegalStateException] { ts.recoverSwapDebris("t") }
    // nothing was deleted by the refusal
    assert(siblings(root, "t").toSet == Set("t.old-1", "t.old-2"))
  }
}
