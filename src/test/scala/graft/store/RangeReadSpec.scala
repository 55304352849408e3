package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins [[TableStore.readRange]] — stats-based FILE skipping ahead of the
  * scan: a selective range over a clustered layout plans tasks for only
  * the files whose footer [min, max] intersects the range, and the result
  * is ALWAYS exactly `read.filter(between)` — pruning may only drop files
  * proved disjoint (or provably all-null), and unusable statistics mean
  * the file is scanned, never guessed about.
  */
class RangeReadSpec extends AnyFunSuite with SharedSpark {

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
    df.select(input_file_name()).distinct().count()

  /** Three single-file appends with disjoint id ranges 1-100/101-200/201-300. */
  private def threeBatches(root: String): TableStore = {
    import spark.implicits._
    val ts = new TableStore(spark, root)
    for (b <- 0 until 3)
      ts.append("t", (b * 100L + 1 to b * 100L + 100)
        .map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    ts
  }

  test("range inside one batch reads one file and equals the plain filter") {
    import spark.implicits._
    val root = tmpDir("range-basic")
    val ts = threeBatches(root)
    val pruned = ts.readRange("t", "id", 120L, 180L)
    assert(scannedFiles(pruned) == 1, "exactly one file must survive pruning")
    val want = ts.read("t").filter(col("id").between(120L, 180L))
      .as[(Long, String)].collect().toSet
    assert(pruned.as[(Long, String)].collect().toSet == want)
    assert(want.size == 61)
  }

  test("range spanning two batches reads two files") {
    val root = tmpDir("range-two")
    val ts = threeBatches(root)
    val pruned = ts.readRange("t", "id", 90L, 110L)
    assert(scannedFiles(pruned) == 2)
    assert(pruned.count() == 21)
  }

  test("disjoint range and inverted bounds return empty") {
    val root = tmpDir("range-empty")
    val ts = threeBatches(root)
    assert(ts.readRange("t", "id", 500L, 600L).isEmpty)
    assert(ts.readRange("t", "id", 10L, 5L).isEmpty)
  }

  test("an all-null file is pruned; null ids never match a range") {
    import spark.implicits._
    val root = tmpDir("range-nulls")
    val ts = threeBatches(root)
    ts.append("t", Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2"))
      .toDF("id", "v").coalesce(1))
    val pruned = ts.readRange("t", "id", 120L, 180L)
    assert(scannedFiles(pruned) == 1, "the all-null file must be pruned")
    assert(pruned.count() == 61)
  }

  test("a visible non-parquet file disables pruning but stays exact") {
    val root = tmpDir("range-foreign")
    val ts = threeBatches(root)
    val foreign = new java.io.File(s"$root/t/notes.txt")
    java.nio.file.Files.write(foreign.toPath, "not parquet".getBytes)
    // the fallback would read notes.txt as parquet and fail — which is
    // exactly what read() does on such a table; pruning must not hide it
    intercept[Exception] { ts.readRange("t", "id", 120L, 180L).count() }
  }

  test("int32 column statistics prune too") {
    import spark.implicits._
    val root = tmpDir("range-int")
    val ts = new TableStore(spark, root)
    for (b <- 0 until 3)
      ts.append("t", (b * 10 to b * 10 + 9).map(i => (i, s"v$i"))
        .toDF("bucket", "v").coalesce(1))
    val pruned = ts.readRange("t", "bucket", 12, 17)
    assert(scannedFiles(pruned) == 1)
    assert(pruned.count() == 6)
  }

  test("a partition column prunes whole directories with zero footer opens") {
    import spark.implicits._
    val root = tmpDir("range-part")
    val ts = new TableStore(spark, root)
    ts.appendPartitioned("t",
      (1L to 60L).map(i => (i, s"v$i", (i % 3).toInt)).toDF("id", "v", "p"),
      Seq("p"))
    // p exists only in directory names, not footers — the partition tier
    // answers every file from its dir name, so the read prunes to the
    // p=1 directory without opening a single footer
    val opensBefore = TableStore.footerOpens.get()
    val got = ts.readRange("t", "p", 1L, 1L)
    assert(got.count() == 20)
    assert(TableStore.footerOpens.get() == opensBefore,
      "a partition-column range must resolve without footer opens")
    assert(got.inputFiles.nonEmpty && got.inputFiles.forall(_.contains("p=1")),
      "only the p=1 directory's files may be planned")
    // and a data column still prunes on the partitioned layout
    val byId = ts.readRange("t", "id", 10L, 20L)
    assert(byId.count() == 11)
    assert(byId.columns.toSet == Set("id", "v", "p"),
      "partition columns must survive the basePath read")
  }

  test("partition dirs and footer stats compose: dirs prune first, footers after") {
    import spark.implicits._
    val root = tmpDir("range-part-conj")
    val ts = new TableStore(spark, root)
    // per-partition appends so each p=… dir holds id-banded files: three
    // partitions × three disjoint id bands, one file each
    for (p <- 0 until 3; b <- 0 until 3)
      ts.appendPartitioned("t",
        (b * 100L + 1 to b * 100L + 100).map(i => (i, s"v$p-$i", p))
          .toDF("id", "v", "p").coalesce(1),
        Seq("p"))
    val allFiles = new TableStore(spark, root).read("t")
      .select(input_file_name()).distinct().count()
    assert(allFiles == 9)
    // conjunctive read: the p conjunct must confine the footer pass to
    // the surviving directory — 3 opens, not 9
    val opensBefore = TableStore.footerOpens.get()
    val conj = ts.readRangeAll("t", Seq(("p", 1L, 1L), ("id", 120L, 180L)))
    val rows = conj.count()
    val opened = TableStore.footerOpens.get() - opensBefore
    assert(opened == 3,
      s"footer opens must cover only the surviving dir's files, got $opened")
    assert(conj.inputFiles.length == 1,
      "one file (p=1, id band 101-200) must survive both tiers")
    assert(rows == 61)
    val want = ts.read("t")
      .filter(col("p") === 1 && col("id").between(120L, 180L))
      .as[(Long, String, Int)].collect().toSet
    assert(conj.as[(Long, String, Int)].collect().toSet == want)
    // a disjoint partition value empties the read before any footer work
    val before2 = TableStore.footerOpens.get()
    assert(ts.readRangeAll("t", Seq(("p", 7L, 7L), ("id", 120L, 180L))).isEmpty)
    assert(TableStore.footerOpens.get() == before2,
      "a partition-disjoint conjunction must not open footers")
    // the manifest composes too: declared id stats + partition dirs →
    // zero live opens on a fully-covered conjunctive read
    ts.declareStatsColumns("t", Seq("id"))
    val before3 = TableStore.footerOpens.get()
    assert(ts.readRangeAll("t",
      Seq(("p", 1L, 1L), ("id", 120L, 180L))).count() == 61)
    assert(TableStore.footerOpens.get() == before3,
      "manifest-covered id stats + partition dirs must need no live opens")
  }

  test("null partition dir is pruned by a range; escaped values stay exact") {
    import spark.implicits._
    val root = tmpDir("range-part-null")
    val ts = new TableStore(spark, root)
    ts.appendPartitioned("t",
      Seq((1L, "a", Option(1)), (2L, "b", Option(2)), (3L, "n", Option.empty[Int]))
        .toDF("id", "v", "p"),
      Seq("p"))
    // the __HIVE_DEFAULT_PARTITION__ dir holds only null p — BETWEEN is
    // null-rejecting, so the partition tier proves it value-less (code 1)
    val got = ts.readRange("t", "p", 1L, 2L)
    assert(got.count() == 2)
    assert(got.inputFiles.nonEmpty &&
      got.inputFiles.forall(f => !f.contains("HIVE_DEFAULT_PARTITION")),
      "the null-partition dir must be pruned")
    // string partition values round-trip Spark's %xx path escaping
    val root2 = tmpDir("range-part-esc")
    val ts2 = new TableStore(spark, root2)
    ts2.appendPartitioned("t",
      Seq((1L, "k a:b"), (2L, "plain")).toDF("id", "k").coalesce(1), Seq("k"))
    val hit = ts2.readPrefix("t", "k", "k a")
    assert(hit.count() == 1, "escaped partition value must match its prefix")
    assert(ts2.readPrefix("t", "k", "zz").isEmpty)
  }

  test("unescapePathName decodes %xx and passes malformed escapes through") {
    assert(TableStore.unescapePathName("a%3Ab") == "a:b")
    assert(TableStore.unescapePathName("a%2Fb%25c") == "a/b%c")
    assert(TableStore.unescapePathName("plain") == "plain")
    assert(TableStore.unescapePathName("bad%zz") == "bad%zz")
    assert(TableStore.unescapePathName("tail%3") == "tail%3")
    assert(TableStore.hivePartitionValues("p=1/q=x%3Ay/part-0.parquet") ==
      Map("p" -> "1", "q" -> "x:y"))
    assert(TableStore.hivePartitionValues("part-0.parquet").isEmpty)
  }

  test("readIn plans only the files whose band holds a requested id") {
    import spark.implicits._
    val root = tmpDir("range-in")
    val ts = threeBatches(root) // bands 1-100 / 101-200 / 201-300
    // ids from bands 1 and 3 only — the middle file must not plan
    val got = ts.readIn("t", "id", Seq(42L, 7L, 250L, 299L, 42L))
    assert(got.inputFiles.length == 2, "band 101-200 must be pruned")
    assert(got.as[(Long, String)].collect().toSet ==
      Set((7L, "v7"), (42L, "v42"), (250L, "v250"), (299L, "v299")))
    // ids that exist in no band: nothing planned, empty result
    assert(ts.readIn("t", "id", Seq(500L, -3L)).isEmpty)
    // empty id set: empty result, no scan
    assert(ts.readIn("t", "id", Nil).isEmpty)
    // boundary ids (file min/max themselves) stay exact
    assert(ts.readIn("t", "id", Seq(100L, 101L)).count() == 2)
    // and the result is always exactly the plain IN filter
    val ids = Seq(1L, 150L, 222L, 301L)
    assert(ts.readIn("t", "id", ids).as[(Long, String)].collect().toSet ==
      ts.read("t").filter(col("id").isInCollection(ids))
        .as[(Long, String)].collect().toSet)
  }

  test("readInAll intersects set conjuncts across partition and footer tiers") {
    import spark.implicits._
    val root = tmpDir("range-inall")
    val ts = new TableStore(spark, root)
    // 3 partitions × 3 id bands, one file each — the readRangeAll
    // composition fixture, now with SET predicates
    for (p <- 0 until 3; b <- 0 until 3)
      ts.appendPartitioned("t",
        (b * 100L + 1 to b * 100L + 100).map(i => (i, s"v$p-$i", p.toLong))
          .toDF("id", "v", "p").coalesce(1),
        Seq("p"))
    val opensBefore = TableStore.footerOpens.get()
    val got = ts.readInAll("t", Seq(("p", Seq(1L)), ("id", Seq(42L, 250L))))
    val rows = got.collect()
    val opened = TableStore.footerOpens.get() - opensBefore
    assert(opened == 3, s"footers only inside the p=1 dir, got $opened")
    assert(got.inputFiles.length == 2, "bands 1-100 and 201-300 of p=1 only")
    assert(rows.map(_.getString(1)).toSet == Set("v1-42", "v1-250"))
    // empty value set anywhere empties the read
    assert(ts.readInAll("t", Seq(("p", Seq(1L)), ("id", Nil))).isEmpty)
    // result always equals the plain conjunctive IN filter
    val want = ts.read("t")
      .filter(col("p").isInCollection(Seq(0L, 2L)) &&
        col("id").isInCollection(Seq(5L, 150L, 299L)))
      .as[(Long, String, Long)].collect().toSet
    assert(ts.readInAll("t", Seq(("p", Seq(0L, 2L)), ("id", Seq(5L, 150L, 299L))))
      .as[(Long, String, Long)].collect().toSet == want)
  }

  test("readInStrings plans only files whose byte band holds a requested key") {
    import spark.implicits._
    val root = tmpDir("range-instr")
    val ts = new TableStore(spark, root)
    for (b <- 0 until 3)
      ts.append("t", (b * 100 to b * 100 + 99)
        .map(i => (f"doc$i%09d", i)).toDF("key", "v").coalesce(1))
    // keys from bands 1 and 3 only — the middle file must not plan
    val got = ts.readInStrings("t", "key",
      Seq("doc000000042", "doc000000250", "doc000000007"))
    assert(got.inputFiles.length == 2, "band doc…100-199 must be pruned")
    assert(got.as[(String, Int)].collect().toSet ==
      Set(("doc000000007", 7), ("doc000000042", 42), ("doc000000250", 250)))
    // absent keys: nothing planned; empty set: empty result
    assert(ts.readInStrings("t", "key", Seq("zzz", "aaa")).isEmpty)
    assert(ts.readInStrings("t", "key", Nil).isEmpty)
    // multi-byte UTF-8 keys stay exact (byte order = string order)
    val root2 = tmpDir("range-instr-utf8")
    val ts2 = new TableStore(spark, root2)
    ts2.append("t", Seq(("aé1", 1), ("añ2", 2)).toDF("key", "v").coalesce(1))
    ts2.append("t", Seq(("b早1", 3), ("zz", 4)).toDF("key", "v").coalesce(1))
    for (keys <- Seq(Seq("añ2"), Seq("b早1", "aé1"), Seq("zz", "nope"))) {
      val want = ts2.read("t").filter(col("key").isInCollection(keys))
        .as[(String, Int)].collect().toSet
      assert(ts2.readInStrings("t", "key", keys)
        .as[(String, Int)].collect().toSet == want, s"keys $keys")
    }
  }

  test("readInStrings finds keys whose UTF-16 and UTF-8 orders disagree") {
    import spark.implicits._
    // U+FF01 sorts AFTER a surrogate pair as a Java string but BEFORE it
    // as UTF-8 bytes; the per-file binary search must run in byte order,
    // or the U+FF01 file is proved "disjoint" and its row silently lost
    val root = tmpDir("range-instr-surrogate")
    val ts = new TableStore(spark, root)
    ts.append("t", Seq(("\uFF01", 1)).toDF("key", "v").coalesce(1))
    ts.append("t", Seq(("\uD83D\uDE00", 2)).toDF("key", "v").coalesce(1))
    ts.append("t", Seq(("a", 3)).toDF("key", "v").coalesce(1))
    val got = ts.readInStrings("t", "key", Seq("\uFF01", "\uD83D\uDE00"))
    assert(got.as[(String, Int)].collect().toSet ==
      Set(("\uFF01", 1), ("\uD83D\uDE00", 2)))
    assert(got.inputFiles.length == 2, "the 'a' file must be pruned")
  }

  test("timestamp range read prunes time-clustered files, micro-exact") {
    import spark.implicits._
    import java.sql.Timestamp
    val root = tmpDir("range-ts")
    val ts = new TableStore(spark, root)
    val base = Timestamp.valueOf("2026-01-15 08:00:00").getTime
    // three files of one-hour bands with sub-second offsets (micros in
    // play: the off-by-10^6 seconds/micros confusion would be caught)
    for (b <- 0 until 3)
      ts.append("t", (0 until 100).map { i =>
        val t0 = new Timestamp(base + b * 3600000L + i * 1000L)
        t0.setNanos(123456000) // .123456 — micro precision
        (t0, s"e$b-$i")
      }.toDF("ts", "v").coalesce(1))
    val lo = Timestamp.valueOf("2026-01-15 09:00:00")
    val hi = Timestamp.valueOf("2026-01-15 09:00:30")
    val pruned = ts.readRange("t", "ts", lo, hi)
    assert(scannedFiles(pruned) == 1, "one hour-band file must survive")
    val want = ts.read("t").filter(col("ts").between(lit(lo), lit(hi)))
      .as[(Timestamp, String)].collect().toSet
    assert(pruned.as[(Timestamp, String)].collect().toSet == want)
    assert(want.size == 30, s"30 in-window events, got ${want.size}")
    // boundary: a window whose edge sits INSIDE a file's band still
    // returns exactly the filtered rows
    val edge = ts.readRange("t", "ts",
      Timestamp.valueOf("2026-01-15 08:59:59"), hi)
    assert(edge.count() == 30)
  }

  test("string prefix read prunes to the files straddling the prefix") {
    import spark.implicits._
    val root = tmpDir("prefix-basic")
    val ts = new TableStore(spark, root)
    for (b <- 0 until 3)
      ts.append("t", (b * 100 to b * 100 + 99)
        .map(i => (f"doc$i%09d", s"v$i")).toDF("key", "v").coalesce(1))
    // 'doc00000012' matches keys doc000000120..129 — all in batch 2's file
    val pruned = ts.readPrefix("t", "key", "doc00000012")
    assert(scannedFiles(pruned) == 1)
    val want = ts.read("t").filter(col("key").startsWith("doc00000012"))
      .as[(String, String)].collect().toSet
    assert(pruned.as[(String, String)].collect().toSet == want)
    assert(want.size == 10)
    // disjoint prefix: nothing scanned
    assert(ts.readPrefix("t", "key", "zzz").isEmpty)
    // empty prefix matches everything via the fallback
    assert(ts.readPrefix("t", "key", "").count() == 300)
  }

  test("prefix pruning is exact on multi-byte UTF-8 keys") {
    import spark.implicits._
    val root = tmpDir("prefix-utf8")
    val ts = new TableStore(spark, root)
    val rows = Seq("aé1", "aé2", "añ1", "añ2", "b早1", "b早2", "zz")
      .zipWithIndex.map { case (k, i) => (k, i) }
    // one file per key-neighborhood so pruning has something to skip
    ts.append("t", rows.take(4).toDF("key", "v").coalesce(1))
    ts.append("t", rows.drop(4).toDF("key", "v").coalesce(1))
    for (prefix <- Seq("aé", "añ", "b早", "a", "b", "é")) {
      val got = ts.readPrefix("t", "key", prefix)
        .as[(String, Int)].collect().toSet
      val want = ts.read("t").filter(col("key").startsWith(prefix))
        .as[(String, Int)].collect().toSet
      assert(got == want, s"prefix '$prefix'")
    }
  }

  test("nextPrefixBytes handles carries and the all-0xFF no-bound case") {
    def np(bs: Int*): Option[Seq[Int]] =
      TableStore.nextPrefixBytes(bs.map(_.toByte).toArray)
        .map(_.toSeq.map(_ & 0xff))
    assert(np(0x61, 0x62) == Some(Seq(0x61, 0x63)))
    assert(np(0x61, 0xff) == Some(Seq(0x62)))      // carry drops the tail
    assert(np(0x61, 0xff, 0xff) == Some(Seq(0x62)))
    assert(np(0xff, 0xff) == None)                  // no upper bound
    // the bound is correct: p < everything-with-prefix < next
    assert(TableStore.cmpBytes(Array(0x61, 0xff.toByte, 0x00),
      Array(0x62)) < 0)
  }

  test("past the file-count threshold the executor tier prunes identically") {
    import spark.implicits._
    val root = tmpDir("range-exec")
    val ts = new TableStore(spark, root)
    val n = TableStore.ExecutorFooterThreshold + 40
    // range-clustered: file i holds a narrow id band, so a selective
    // range must prune to a handful of files on the EXECUTOR tier too
    ts.append("t", (1L to n * 4L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(n, col("id")))
    val pruned = ts.readRange("t", "id", 10L, 20L)
    assert(scannedFiles(pruned) <= 8,
      "executor-tier verdicts must still prune the clustered layout")
    assert(pruned.count() == 11)
    assert(pruned.as[(Long, String)].collect().toMap ==
      (10L to 20L).map(i => i -> s"v$i").toMap)
  }

  test("date range read prunes day-banded files exactly") {
    import spark.implicits._
    import java.sql.Date
    val root = tmpDir("range-date")
    val ts = new TableStore(spark, root)
    // three files of one-month bands
    for (m <- 1 to 3)
      ts.append("t", (1 to 28).map(d => (Date.valueOf(f"2026-$m%02d-$d%02d"), s"d$m-$d"))
        .toDF("day", "v").coalesce(1))
    val pruned = ts.readRange("t", "day",
      Date.valueOf("2026-02-10"), Date.valueOf("2026-02-20"))
    assert(scannedFiles(pruned) == 1, "one month-band file must survive")
    assert(pruned.count() == 11)
    val want = ts.read("t")
      .filter(col("day").between(lit(Date.valueOf("2026-02-10")),
        lit(Date.valueOf("2026-02-20"))))
      .as[(Date, String)].collect().toSet
    assert(pruned.as[(Date, String)].collect().toSet == want)
    // inverted bounds → empty
    assert(ts.readRange("t", "day",
      Date.valueOf("2026-03-01"), Date.valueOf("2026-01-01")).isEmpty)
  }

  test("wrong-unit logical types make stats unusable, never wrongly pruned") {
    import spark.implicits._
    // DECIMAL rides INT32/INT64 physically with UNSCALED values: a file
    // holding only 150.00 has footer max 15000 — comparing that against
    // Long bounds [100, 200] would prune a file whose rows MATCH the
    // filter. The logical-type check must refuse (keep + scan) instead.
    val root = tmpDir("range-decimal")
    val ts = new TableStore(spark, root)
    ts.append("t", Seq((1L, BigDecimal("150.00")), (2L, BigDecimal("150.50")))
      .toDF("id", "price")
      .select(col("id"), col("price").cast("decimal(9,2)").as("price"))
      .coalesce(1))
    val got = ts.readRange("t", "price", 100L, 200L)
    assert(got.count() == 2,
      "decimal stats are unscaled ints — pruning on them would drop matching rows")

    // TIMESTAMP_MILLIS files: footer Longs are millis, micro bounds would
    // be ~1000x larger and prune every matching file — must keep + scan
    val root2 = tmpDir("range-millis")
    val ts2 = new TableStore(spark, root2)
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try ts2.append("t", Seq(
        (1L, java.sql.Timestamp.valueOf("2026-01-15 09:00:10")),
        (2L, java.sql.Timestamp.valueOf("2026-01-15 09:00:20")))
      .toDF("id", "ts").coalesce(1))
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    val win = ts2.readRange("t", "ts",
      java.sql.Timestamp.valueOf("2026-01-15 09:00:00"),
      java.sql.Timestamp.valueOf("2026-01-15 09:01:00"))
    assert(win.count() == 2,
      "millis-encoded footers must not be compared against micro bounds")
  }

  test("conjunctive readRangeAll prunes harder than either single range") {
    import spark.implicits._
    val root = tmpDir("range-conj")
    val ts = new TableStore(spark, root)
    // 3-dim Z-order over INDEPENDENT dimensions (a pure mod of i would
    // make all three functions of i%64 and the conjunction empty)
    val df = (0L until 8192L)
      .map(i => (i % 64, (i / 64) % 64, ((i * 2654435761L) >>> 7) % 64, i))
      .toDF("a", "b", "c", "payload")
    graft.ops.Layout.writeZClusteredN(df, s"$root/t",
      Seq(col("a"), col("b"), col("c")), bits = 6, numFiles = 32)
    val total = new java.io.File(s"$root/t").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(total >= 16)

    val single = ts.readRange("t", "a", 3L, 6L)
    val conj = ts.readRangeAll("t",
      Seq(("a", 3L, 6L), ("b", 10L, 20L), ("c", 0L, 31L)))
    assert(scannedFiles(conj) <= scannedFiles(single),
      "the conjunction must never scan more files than one conjunct")
    assert(scannedFiles(conj) < total)
    // a k-conjunct read opens each uncovered footer ONCE, not k times
    val opensBefore = TableStore.footerOpens.get()
    ts.readRangeAll("t",
      Seq(("a", 3L, 6L), ("b", 10L, 20L), ("c", 0L, 31L))).count()
    val opened = TableStore.footerOpens.get() - opensBefore
    assert(opened == total,
      s"3-conjunct read must cost one open per file ($opened vs $total)")
    val want = ts.read("t")
      .filter(col("a").between(3L, 6L) && col("b").between(10L, 20L) &&
        col("c").between(0L, 31L)).count()
    assert(conj.count() == want && want > 0)
    // an inverted bound anywhere empties the conjunction
    assert(ts.readRangeAll("t", Seq(("a", 3L, 6L), ("b", 9L, 2L))).isEmpty)
    // and the manifest covers every conjunct at once
    ts.declareStatsColumns("t", Seq("a", "b", "c"))
    val before = TableStore.footerOpens.get()
    assert(ts.readRangeAll("t",
      Seq(("a", 3L, 6L), ("b", 10L, 20L))).count() == ts.read("t")
      .filter(col("a").between(3L, 6L) && col("b").between(10L, 20L)).count())
    assert(TableStore.footerOpens.get() == before,
      "a declared conjunction must answer without live footer opens")
  }

  test("zorderKeyN matches its scalar mirror and the 2-dim key") {
    import spark.implicits._
    val df = (0L until 512L)
      .map(i => (i % 32, i * 7 % 32, i * 13 % 32)).toDF("a", "b", "c")
    val got = df.select(
      graft.ops.Layout.zorderKeyN(Seq(col("a"), col("b"), col("c")), 5).as("z3"),
      graft.ops.Layout.zorderKey2(col("a"), col("b"), 5).as("z2"),
      col("a"), col("b"), col("c")).collect()
    for (r <- got) {
      assert(r.getAs[Long]("z3") == graft.ops.Layout.zorderKeyNScalar(
        Seq(r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c")), 5))
      assert(r.getAs[Long]("z2") == graft.ops.Layout.zorderKey2Scalar(
        r.getAs[Long]("a"), r.getAs[Long]("b"), 5),
        "the 2-dim key must be unchanged by the N-dim generalization")
    }
  }

  test("z-clustered layout prunes on either dimension") {
    import spark.implicits._
    val root = tmpDir("range-z")
    val ts = new TableStore(spark, root)
    val df = (0L until 4096L)
      .map(i => (i % 64, (i * 2654435761L % 64 + 64) % 64, i))
      .toDF("a", "b", "payload")
    graft.ops.Layout.writeZClustered(df, s"$root/t", col("a"), col("b"),
      bits = 6, numFiles = 16)
    val total = new java.io.File(s"$root/t").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(total >= 8, s"layout should produce many files, got $total")

    for (dim <- Seq("a", "b")) {
      val pruned = ts.readRange("t", dim, 3L, 6L)
      assert(scannedFiles(pruned) < total,
        s"range on $dim must prune at least one of $total files")
      val want = ts.read("t").filter(col(dim).between(3L, 6L)).count()
      assert(pruned.count() == want)
    }
  }
}
