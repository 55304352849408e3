package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one [[TableStore.compactIncremental]] pass touched: `packedFiles`/
  * `packedBytes` are the small files that were rewritten; `keptFiles` were
  * carried across by metadata-only renames (zero data I/O). A no-op pass
  * (nothing worth packing) performs no swap and reports 0 everywhere —
  * keptFiles counts renames actually performed, not files that happened
  * to exist.
  */
final case class CompactStats(packedFiles: Int, packedBytes: Long, keptFiles: Int)

/** Outcome of [[TableStore.tableReport]] — one table's operational
  * summary (file/byte counts, small-file tail, partition dirs, manifest
  * declaration + coverage, lease state `none|live-own|live-foreign|
  * expired-own|expired-foreign`, swap-debris flag).
  */
final case class TableReport(
    table: String, files: Int, bytes: Long, smallFiles: Int,
    partitionDirs: Int, statsCols: String, manifestCovered: Int,
    leaseState: String, swapDebris: Boolean)

/** Outcome of [[TableStore.recoverSwapDebris]]. */
sealed trait SwapRecovery
object SwapRecovery {
  /** No `.old-*`/`.tmp-*` siblings existed — nothing to do. */
  case object NoDebris extends SwapRecovery
  /** The table path was live (the crash fell outside the swap window, so
    * the table is already fully-old or fully-new); stale siblings dropped.
    */
  case object CleanedUp extends SwapRecovery
  /** The table was absent mid-window; the `.old-*` contents (plus any
    * already-moved kept files, returned first) were restored — fully-old.
    */
  case object RolledBack extends SwapRecovery
  /** The table was absent mid-window but the staged dir was provably the
    * complete new table; it was committed — fully-new.
    */
  case object RolledForward extends SwapRecovery
}

object TableStore {
  /** Shared driver pool for footer-statistics reads: per-JVM, daemon
    * threads (never blocks exit), sized for metadata fan-out. A per-call
    * pool would spawn and tear down threads on every streaming trigger
    * (maxId runs once per table per micro-batch).
    */
  private lazy val footerPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(16, r => {
      val t = new Thread(r, "graft-footer-reader")
      t.setDaemon(true)
      t
    })

  /** True iff `name` is a sibling the swap PROTOCOL generated for
    * `table`: exactly `<table>.old-<digits>` / `<table>.tmp-<digits>`
    * (the nanoTime suffix of the commit paths). Anything looser — an
    * operator's `documents.old-backup` copy, a differently-suffixed
    * foreign directory — must never be treated as debris: recovery
    * DELETES what it classifies as stale.
    */
  private[store] def isSwapSibling(name: String, table: String): Boolean =
    isSwapSibling(name, table, "old") || isSwapSibling(name, table, "tmp")

  private[store] def isSwapSibling(name: String, table: String,
                                   kind: String): Boolean = {
    val prefix = s"$table.$kind-"
    // ASCII digits ONLY (nanoTime emits nothing else): Char.isDigit also
    // accepts Unicode digit classes, which would re-admit look-alike
    // foreign names that the \d+ regex in recoverAllSwapDebris rejects —
    // the two classifiers must agree exactly
    name.startsWith(prefix) && name.length > prefix.length &&
      name.drop(prefix.length).forall(c => c >= '0' && c <= '9')
  }

  /** File-count boundary between the driver footer pool and the
    * executor-side footer job (see [[TableStore.footerMaxId]]): below it
    * a Spark job's scheduling overhead exceeds the metadata reads; above
    * it O(#files) I/O belongs on executors, not the driver.
    */
  private[store] val ExecutorFooterThreshold = 1024

  /** The unit a caller's row filter compares in; a column whose parquet
    * LOGICAL type stores values in any other unit makes its statistics
    * UNUSABLE (verdict 0) rather than silently compared wrong:
    *  - [[IntegralUnit]]: plain INT32/INT64 or a signed INT annotation.
    *    A DECIMAL's unscaled ints, a DATE's day counts, a TIMESTAMP's
    *    epoch ticks all ride the same physical types in a different
    *    unit — comparing them against the filter's Long bounds would
    *    prune files that hold matching rows.
    *  - [[TimestampMicrosUnit]]: TIMESTAMP(MICROS) only — a
    *    TIMESTAMP(MILLIS) footer is off by 10^3 from micro bounds.
    *  - [[Utf8Unit]]: BINARY with the String annotation — raw-binary or
    *    enum columns aren't what a string startsWith filter addresses.
    */
  private[store] sealed trait StatsUnit extends Serializable
  private[store] case object IntegralUnit extends StatsUnit
  private[store] case object TimestampMicrosUnit extends StatsUnit
  private[store] case object DateDaysUnit extends StatsUnit
  private[store] case object Utf8Unit extends StatsUnit

  private def unitOk(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
                     unit: StatsUnit): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val pt = cc.getPrimitiveType
    val ann = pt.getLogicalTypeAnnotation
    unit match {
      case IntegralUnit =>
        (pt.getPrimitiveTypeName == INT64 || pt.getPrimitiveTypeName == INT32) &&
          (ann == null || (ann match {
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
            case _ => false
          }))
      case TimestampMicrosUnit =>
        pt.getPrimitiveTypeName == INT64 && (ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
          case _ => false
        })
      case DateDaysUnit =>
        pt.getPrimitiveTypeName == INT32 &&
          ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
      case Utf8Unit =>
        pt.getPrimitiveTypeName == BINARY &&
          ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
    }
  }

  /** One file's [min, max] footer verdict over a column storing Long
    * values in `unit`'s encoding, for read-side file skipping: 0 =
    * statistics unusable OR the column's logical type is in a different
    * unit than the row filter compares in (the caller must KEEP the file
    * — unlike maxId, a range read stays exact by conservatively scanning
    * it, because the final row filter still applies), 1 = provably no
    * non-null values (prunable for any range), 2 = `(min, max)` in
    * `_2`/`_3`. Static because the executor tier ships it in a task
    * closure, which must not capture a TableStore (it holds the
    * non-serializable SparkSession). [[footerMaxId]] consumes the same
    * verdicts (via the canonical encoding) for its SERIAL max.
    */
  private[store] def footerRangeCode(p: Path,
      conf: org.apache.hadoop.conf.Configuration,
      column: String, unit: StatsUnit): (Int, Long, Long) = try {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try rangeFromFooter(reader.getFooter, column, unit)
    finally reader.close()
  } catch { case scala.util.control.NonFatal(_) => (0, 0L, 0L) }

  private def rangeFromFooter(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      column: String, unit: StatsUnit): (Int, Long, Long) = try {
    import scala.jdk.CollectionConverters._
    var lo = Long.MaxValue
    var hi = Long.MinValue
    var sawValue = false
    for (bg <- footer.getBlocks.asScala) {
      val cc = bg.getColumns.asScala
        .find(_.getPath.toDotString == column)
        .getOrElse(return (0, 0L, 0L))
      if (!unitOk(cc, unit)) return (0, 0L, 0L)
      val stats = cc.getStatistics
      if (stats == null || stats.isEmpty) return (0, 0L, 0L)
      if (stats.hasNonNullValue) {
        def asLong(v: Any): Option[Long] = v match {
          case l: java.lang.Long    => Some(l.longValue())
          case i: java.lang.Integer => Some(i.longValue())
          case _                    => None
        }
        (asLong(stats.genericGetMin), asLong(stats.genericGetMax)) match {
          case (Some(mn), Some(mx)) =>
            lo = math.min(lo, mn); hi = math.max(hi, mx); sawValue = true
          case _ => return (0, 0L, 0L)
        }
      } else if (!stats.isNumNullsSet || stats.getNumNulls != bg.getRowCount) {
        return (0, 0L, 0L) // min/max absent without proof of all-null
      }
    }
    if (sawValue) (2, lo, hi) else (1, 0L, 0L)
  } catch { case scala.util.control.NonFatal(_) => (0, 0L, 0L) }

  /** [[footerRangeCode]]'s sibling for STRING (parquet BINARY/UTF8)
    * columns: the per-file verdict carries [min, max] as raw bytes.
    * Parquet column-chunk statistics hold full (untruncated) values, and
    * unsigned byte-wise order over UTF-8 equals code-point order — which
    * is exactly Spark's string comparison (UTF8String) — so byte
    * comparisons against the footer bounds are consistent with the row
    * filter the read applies.
    */
  private[store] def footerRangeBytes(p: Path,
      conf: org.apache.hadoop.conf.Configuration,
      column: String): (Int, Array[Byte], Array[Byte]) = try {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try bytesFromFooter(reader.getFooter, column)
    finally reader.close()
  } catch { case scala.util.control.NonFatal(_) =>
    (0, Array.empty[Byte], Array.empty[Byte]) }

  private def bytesFromFooter(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      column: String): (Int, Array[Byte], Array[Byte]) = try {
    import scala.jdk.CollectionConverters._
    val empty = Array.empty[Byte]
    var lo: Array[Byte] = null
    var hi: Array[Byte] = null
    var sawValue = false
    for (bg <- footer.getBlocks.asScala) {
      val cc = bg.getColumns.asScala
        .find(_.getPath.toDotString == column)
        .getOrElse(return (0, empty, empty))
      if (!unitOk(cc, Utf8Unit)) return (0, empty, empty)
      val stats = cc.getStatistics
      if (stats == null || stats.isEmpty) return (0, empty, empty)
      if (stats.hasNonNullValue) {
        def asBytes(v: Any): Option[Array[Byte]] = v match {
          case b: org.apache.parquet.io.api.Binary => Some(b.getBytes)
          case _                                   => None
        }
        (asBytes(stats.genericGetMin), asBytes(stats.genericGetMax)) match {
          case (Some(mn), Some(mx)) =>
            if (lo == null || cmpBytes(mn, lo) < 0) lo = mn
            if (hi == null || cmpBytes(mx, hi) > 0) hi = mx
            sawValue = true
          case _ => return (0, empty, empty)
        }
      } else if (!stats.isNumNullsSet || stats.getNumNulls != bg.getRowCount) {
        return (0, empty, empty)
      }
    }
    if (sawValue) (2, lo, hi) else (1, empty, empty)
  } catch { case scala.util.control.NonFatal(_) =>
    (0, Array.empty[Byte], Array.empty[Byte]) }

  /** Unsigned lexicographic byte comparison — parquet's BINARY order and
    * Spark's UTF8String order.
    */
  private[store] def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Smallest byte string strictly greater than every string with prefix
    * `p`: increment the last non-0xFF byte and drop the tail; None when
    * every byte is 0xFF (no upper bound exists). Byte-generic, so the
    * UTF-8 carry cases are covered without string round-trips.
    */
  private[store] def nextPrefixBytes(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  /** Stable wire tag for a [[StatsUnit]] — the manifest format and the
    * `stats_cols` table prop speak these, never Scala class names.
    */
  private[store] def unitTag(u: StatsUnit): String = u match {
    case IntegralUnit        => "int"
    case TimestampMicrosUnit => "tsus"
    case DateDaysUnit        => "date"
    case Utf8Unit            => "utf8"
  }
  private[store] def unitOfTag(t: String): Option[StatsUnit] = t match {
    case "int"  => Some(IntegralUnit)
    case "tsus" => Some(TimestampMicrosUnit)
    case "date" => Some(DateDaysUnit)
    case "utf8" => Some(Utf8Unit)
    case _      => None
  }

  /** One file's verdict in the CANONICAL string encoding every pruned
    * read and the stats manifest share: `(code, min, max)` where code is
    * the usual 0/1/2 and min/max are decimal strings for the Long units,
    * URL-safe base64 for UTF-8 byte bounds (empty for codes 0/1). One
    * currency means a manifest entry and a live footer read are
    * interchangeable at the keep/prune decision.
    */
  private[store] def footerStatsCanonical(p: Path,
      conf: org.apache.hadoop.conf.Configuration,
      column: String, unit: StatsUnit): (Int, String, String) =
    footerStatsCanonicalMulti(p, conf, Seq(column -> unit)).head._3

  /** Canonical verdicts for SEVERAL (column, unit) specs from ONE footer
    * open — the manifest-refresh shape: k declared columns must not cost
    * k footer reads per file. Any open/parse failure yields code 0 for
    * every spec (conservative: reads keep, maxId scans).
    */
  private[store] def footerStatsCanonicalMulti(p: Path,
      conf: org.apache.hadoop.conf.Configuration,
      specs: Seq[(String, StatsUnit)])
      : Seq[(String, String, (Int, String, String))] = {
    footerOpens.incrementAndGet()
    val enc = java.util.Base64.getUrlEncoder
    val footer: Option[org.apache.parquet.hadoop.metadata.ParquetMetadata] =
      try {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try Some(reader.getFooter) finally reader.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    specs.map { case (column, unit) =>
      val verdict = footer match {
        case None => (0, "", "")
        case Some(f) => unit match {
          case Utf8Unit =>
            val (c, mn, mx) = bytesFromFooter(f, column)
            if (c == 2) (c, enc.encodeToString(mn), enc.encodeToString(mx))
            else (c, "", "")
          case u =>
            val (c, mn, mx) = rangeFromFooter(f, column, u)
            if (c == 2) (c, mn.toString, mx.toString) else (c, "", "")
        }
      }
      (column, unitTag(unit), verdict)
    }
  }

  /** Test-visible tally of live footer opens via the canonical reader —
    * the manifest specs assert a fully-covered read performs ZERO of
    * them. Per-JVM (local-mode tests share the JVM with executors).
    */
  private[store] val footerOpens = new java.util.concurrent.atomic.AtomicLong

  /** Hive partition (column → value) pairs parsed from a file's
    * table-relative path: every DIRECTORY segment of the form `name=value`
    * (the filename itself never participates, so a flat-layout part file
    * parses to empty). Values are unescaped from Spark's `%xx` partition-
    * path escaping.
    */
  private[store] def hivePartitionValues(rel: String): Map[String, String] = {
    val segs = rel.split("/")
    if (segs.length <= 1) Map.empty
    else segs.iterator.take(segs.length - 1).flatMap { s =>
      val i = s.indexOf('=')
      if (i <= 0) None
      else Some(s.substring(0, i) -> unescapePathName(s.substring(i + 1)))
    }.toMap
  }

  /** Inverse of Spark/Hive partition-path escaping: `%xx` two-hex-digit
    * sequences decode to their character; anything malformed passes
    * through verbatim (the caller's verdict derivation then fails closed
    * to a conservative keep).
    */
  private[store] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code =
          try Integer.parseInt(s.substring(i + 1, i + 3), 16)
          catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Canonical verdict for a file derived from its HIVE PARTITION value
    * when the pruned column IS a partition column — partition columns are
    * not stored in the data pages, so their footers carry no statistics
    * (a live read would yield code 0 = keep everything); the directory
    * name IS the exact single value of every row in the file, i.e.
    * min = max = value. This is the partition-pruning tier of the stats-
    * pruned reads: on a hive-partitioned table the partition conjunct
    * prunes whole directories with ZERO footer opens, and the remaining
    * data-column conjuncts prune the survivors by footer. None when the
    * column is not a partition column of this file or the value does not
    * parse in the unit (→ caller falls through to footer stats / keep).
    * `__HIVE_DEFAULT_PARTITION__` is the null partition: code 1
    * (provably value-less), which every BETWEEN-shaped keepVerdict drops
    * — correct because BETWEEN is null-rejecting.
    */
  private[store] def partitionVerdict(values: Map[String, String],
      column: String, unit: StatsUnit): Option[(Int, String, String)] = {
    val v = values.get(column).orElse(
      values.collectFirst { case (k, x) if k.equalsIgnoreCase(column) => x })
    v.flatMap {
      case "__HIVE_DEFAULT_PARTITION__" => Some((1, "", ""))
      case s => unit match {
        case IntegralUnit =>
          scala.util.Try(s.toLong).toOption.map(l => (2, l.toString, l.toString))
        case Utf8Unit =>
          val b = java.util.Base64.getUrlEncoder.encodeToString(
            s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          Some((2, b, b))
        case DateDaysUnit =>
          scala.util.Try(java.time.LocalDate.parse(s).toEpochDay).toOption
            .map(d => (2, d.toString, d.toString))
        // partition timestamp rendering varies by writer config (escaped
        // colons, optional fractional seconds, session zone) — resolve
        // conservatively through footers instead of guessing a format
        case TimestampMicrosUnit => None
      }
    }
  }
}

/** Parquet-backed relational table store with CRUD semantics over immutable
  * files (SURVEY §7.4.1). Reads/appends are plain Spark jobs; UPDATE and
  * DELETE are copy-on-write rewrites committed with an atomic directory
  * swap, replicating the reference's single-row mutations (base.py:38-66)
  * under a single-writer contract (the reference, too, has exactly one
  * writer — its lone watchdog handler, main.py:154-159).
  *
  * Scale note: appends never rewrite, and the copy-on-write CRUD paths
  * prune — a partitioned table rewrites only the directories holding
  * matching rows ([[prunedRewrite]]), an unpartitioned table only the
  * FILES holding matching rows ([[filePrunedRewrite]]); untouched data
  * crosses the commit by metadata-only renames. With
  * [[compactIncremental]] keeping files near 128 MB, a single-row
  * mutation costs one file's rewrite regardless of table size.
  */
final class TableStore(spark: SparkSession, root: String) {

  private def tablePath(table: String) = s"$root/$table"

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(table: String): Boolean = fs.exists(new Path(tablePath(table)))

  /** True when a crashed or in-flight atomic swap left `.old-*`/`.tmp-*`
    * siblings of the table — the recoverable states in which the table
    * path may be TRANSIENTLY absent. Destructive maintenance (e.g. orphan
    * GC) must distinguish "never existed" from "absent mid-swap": acting
    * on the former is cleanup, acting on the latter destroys data whose
    * rows are still recoverable from the siblings.
    */
  def hasSwapDebris(table: String): Boolean = {
    val parent = new Path(root)
    fs.exists(parent) && fs.listStatus(parent).map(_.getPath.getName)
      .exists(n => TableStore.isSwapSibling(n, table))
  }

  /** The whole table under its [[tableSchema]]: the evolved declaration
    * when one exists (files written before a column existed simply yield
    * nulls for it — parquet's name-based projection — so evolution never
    * rewrites a byte), else the cached inference. Building the frame runs
    * no Spark job; without a schema, Spark would run a schema-merge job
    * per frame. A table with nothing to infer from keeps Spark's own
    * inference (and its error).
    */
  def read(table: String): DataFrame = tableSchema(table) match {
    case Some(schema) => spark.read.schema(schema).parquet(tablePath(table))
    case None => spark.read.parquet(tablePath(table))
  }

  private val SchemaProp = "schema_ddl"

  private def evolvedDdl(table: String): Option[String] =
    getTableProp(table, SchemaProp)

  /** Inferred-schema cache behind [[tableSchema]]: inference is a Spark
    * job that lists the whole directory, and every read and every append
    * fence consults the schema. Each entry is stamped with the table
    * directory's modification time at inference ([[dirStamp]]): a swap
    * (this instance's or a foreign writer's) replaces the directory, so a
    * changed stamp means the entry may be stale and is re-inferred. Own
    * writes that cannot change a schema (fenced appends, sidecar and
    * lease files) also move the stamp; [[keepingSchema]] carries the entry
    * across them. This instance's own swaps still drop their entry
    * explicitly: on a filesystem with coarse modification times the
    * replacement directory can carry the old stamp.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, org.apache.spark.sql.types.StructType)]()

  private def invalidateSchema(table: String): Unit = {
    schemaCache.remove(table); ()
  }

  /** The table directory's modification time, None for a missing table:
    * one `stat`, no listing.
    */
  private def dirStamp(table: String): Option[Long] =
    try Some(fs.getFileStatus(new Path(tablePath(table))).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** Run an own write that cannot change the table's schema, carrying a
    * cached inference that was valid just before it over to the
    * directory's new stamp — without this every streamed batch would
    * re-infer in its append fence. A foreign swap racing the write is a
    * concurrent second writer, outside the lease contract.
    */
  private def keepingSchema[T](table: String)(write: => T): T = {
    val before = dirStamp(table)
    val out = write
    val hit = schemaCache.get(table)
    if (hit != null && before.contains(hit._1))
      dirStamp(table).foreach(now => schemaCache.replace(table, hit, (now, hit._2)))
    out
  }

  /** The table's EFFECTIVE schema — the evolved declaration when one
    * exists, else the files' own (cached per directory stamp). None for
    * a missing table, and None when nothing readable exists to infer
    * from (a dir with no data files, or one wedged by a crashed write's
    * `_temporary` debris — effectively schema-less, so there is nothing
    * for an append to fork); None is never cached.
    */
  def tableSchema(table: String): Option[org.apache.spark.sql.types.StructType] =
    dirStamp(table).flatMap { stamp =>
      evolvedDdl(table).map(org.apache.spark.sql.types.StructType.fromDDL).orElse {
        val hit = schemaCache.get(table)
        if (hit != null && hit._1 == stamp) Some(hit._2)
        else try {
          val s = spark.read.parquet(tablePath(table)).schema
          schemaCache.put(table, (stamp, s))
          Some(s)
        } catch { case _: org.apache.spark.sql.AnalysisException => None }
      }
    }

  /** Zero-rewrite ADDITIVE schema evolution: declare new (nullable)
    * columns in the table's sidecar schema. Existing files are never
    * touched — [[read]] supplies the declared schema, so pre-evolution
    * rows yield null for the new columns and post-evolution appends
    * carry them. Name clashes refuse (this is ADD, not ALTER — a type
    * change needs a rewrite, which [[overwriteAtomic]] expresses
    * explicitly). The declaration is a `_graft_` prop, so it survives
    * every swap. This is the schema-drift story a corpus accumulates
    * over years of ingest without ever paying an O(100 TB) rewrite.
    */
  def evolveSchema(table: String, addDdl: String): Unit = {
    import org.apache.spark.sql.types.StructType
    val add = StructType.fromDDL(addDdl)
    val cur = tableSchema(table).getOrElse(throw new IllegalArgumentException(
      s"evolveSchema: no table '$table'"))
    val clash = add.fieldNames.filter(n => cur.fieldNames.exists(_.equalsIgnoreCase(n)))
    if (clash.nonEmpty) throw new IllegalArgumentException(
      s"evolveSchema on '$table': column(s) ${clash.mkString(", ")} already " +
        "exist — additive evolution cannot redefine a column")
    setTableProp(table, SchemaProp, StructType(cur.fields ++ add.fields).toDDL)
    // record WHICH columns evolution added (accumulating across calls):
    // merge/CDC sources may omit exactly these — they null-fill, the same
    // semantics reads already give old files — while omitting an
    // ORIGINAL column stays a loud refusal (a forgotten column in a
    // patch batch is a caller bug, not schema drift)
    val prev = getTableProp(table, EvolvedColsProp).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
    setTableProp(table, EvolvedColsProp,
      (prev ++ add.fieldNames).mkString(","))
    invalidateSchema(table)
  }

  private val EvolvedColsProp = "evolved_cols"

  /** Null-fill DECLARED-EVOLVED columns absent from a merge/CDC source
    * frame. After [[evolveSchema]] a changefeed that predates the
    * evolution keeps flowing: the evolved columns are nullable by
    * construction and null-fill on READ for every pre-evolution file, so
    * supplying the same nulls for a pre-evolution source row is
    * identical semantics — without this, a live [[graft.streaming.CdcStream]]
    * died loudly at its first post-evolution batch until the feed was
    * redeployed. Only evolution-added columns qualify; original columns
    * missing from a source still refuse in [[validateMergeColumns]].
    */
  private def nullFillEvolvedColumns(table: String, source: DataFrame): DataFrame = {
    val evolved = getTableProp(table, EvolvedColsProp).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
    if (evolved.isEmpty) return source
    val have = source.columns.map(_.toLowerCase).toSet
    val schema = tableSchema(table).getOrElse(return source)
    schema.fields
      .filter(f => evolved.exists(_.equalsIgnoreCase(f.name)) &&
        !have.contains(f.name.toLowerCase))
      .foldLeft(source)((df, f) => df.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** Refuse appends that would FORK the table's schema. Without this, a
    * frame with an extra column writes mixed-schema files that a plain
    * parquet read resolves from one arbitrary footer — the column (or
    * worse, pre-existing ones) silently vanishes from some reads. Rules:
    * unknown columns refuse (declare first via [[evolveSchema]]); same
    * name with a different type refuses; ABSENT columns are allowed only
    * on an evolved table (whose reads supply the declared schema and
    * null-fill) — on an undeclared table they would fork the footer
    * schemas, so they refuse too.
    */
  private def validateAppendSchema(table: String, df: DataFrame,
                                   partitionCols: Seq[String] = Nil): Unit = {
    val declared = evolvedDdl(table).isDefined
    tableSchema(table).foreach { ts =>
      val eff = ts.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
      val extra = df.schema.fields.filterNot(f => eff.contains(f.name.toLowerCase))
      if (extra.nonEmpty) throw new IllegalArgumentException(
        s"append to '$table' refused: column(s) " +
          s"${extra.map(_.name).mkString(", ")} are not in the table " +
          "schema — declare them first (TableStore.evolveSchema is " +
          "additive and zero-rewrite)")
      // hive PARTITION columns are stored as directory strings and read
      // back through value inference (a bigint bucket re-infers as int)
      // — a type difference there is an inference artifact, not a
      // schema fork; names still participate in the checks
      val exempt = partitionCols.map(_.toLowerCase).toSet
      val mismatched = df.schema.fields.filter(f =>
        !exempt.contains(f.name.toLowerCase) &&
          eff.get(f.name.toLowerCase).exists(_ != f.dataType))
      if (mismatched.nonEmpty) throw new IllegalArgumentException(
        s"append to '$table' refused: type mismatch on " +
          mismatched.map(f => s"${f.name} (${f.dataType.simpleString} vs " +
            s"${eff(f.name.toLowerCase).simpleString})").mkString(", "))
      if (!declared) {
        val dfCols = df.schema.fieldNames.map(_.toLowerCase).toSet
        val missing = ts.fields.filterNot(f => dfCols.contains(f.name.toLowerCase))
        if (missing.nonEmpty) throw new IllegalArgumentException(
          s"append to '$table' refused: column(s) " +
            s"${missing.map(_.name).mkString(", ")} are missing and the " +
            "table has no declared schema to null-fill them on read — " +
            "include the columns or declare the schema via evolveSchema")
      }
    }
  }

  /** S9 — append-only insert (base.py:13-22). */
  def append(table: String, df: DataFrame): Unit = {
    validateAppendSchema(table, df)
    keepingSchema(table)(df.write.mode("append").parquet(tablePath(table)))
    invalidateListing(table)
  }

  /** Append with hive-style partitioning. At 100 TB, child tables are
    * partitioned by a bounded hash bucket of the parent key (SURVEY
    * §7.4.7) so point lookups become partition-pruned scans instead of
    * full-table reads.
    */
  def appendPartitioned(table: String, df: DataFrame,
                        partitionCols: Seq[String]): Unit = {
    // appending nothing is a no-op — and an empty partitioned write would
    // create a file-less directory that poisons schema inference
    if (df.isEmpty) return
    validateAppendSchema(table, df, partitionCols)
    // clear an empty-table schema marker (see overwriteAtomic) so the
    // layout stays uniformly partitioned; an unreadable (file-less) dir
    // counts as empty
    if (exists(table)) {
      val dir = new Path(tablePath(table))
      // only ever delete a table that is VERIFIABLY empty: either the
      // directory holds no data files at all, or it reads as zero rows
      // (the empty-table schema marker). A read failure on a table that
      // does have data files is a real error and must propagate — treating
      // it as "empty" would destroy a healthy table on a transient fault.
      val f = fs
      // a file only counts as data if NO path component below the table
      // root is hidden — a crashed write's `_temporary/.../part-*.parquet`
      // must read as "no data" (the leaf name alone looks like data), or
      // the table wedges permanently: read() throws on a dir whose only
      // files are under _temporary, and nothing would ever clean it
      // early-exit walk (NOT listVisibleFiles: this runs once per
      // streaming trigger, and a boolean must not enumerate a compacted
      // corpus's whole file list)
      def hasDataFiles: Boolean = {
        val rootPath = f.makeQualified(dir).toUri.getPath
        val it = f.listFiles(dir, true)
        var found = false
        while (!found && it.hasNext) {
          val rel = it.next().getPath.toUri.getPath
            .stripPrefix(rootPath).stripPrefix("/")
          if (!isHiddenRel(rel)) found = true
        }
        found
      }
      // sidecar props must survive the empty-marker clearing — wiping
      // them with the marker would strip layout metadata (the exact
      // mismatch the props exist to prevent); captured before the delete,
      // re-written after the append recreates the directory
      val props = allTableProps(table)
      if (!hasDataFiles || read(table).isEmpty) {
        f.delete(dir, true)
        df.write.mode("append").partitionBy(partitionCols: _*)
          .parquet(tablePath(table))
        props.foreach { case (k, v) => setTableProp(table, k, v) }
        invalidateListing(table)
        invalidateSchema(table)
        return
      }
    }
    keepingSchema(table)(df.write.mode("append").partitionBy(partitionCols: _*)
      .parquet(tablePath(table)))
    invalidateListing(table)
  }

  /** Replace a table's contents atomically: materialize to a temp dir
    * next to the table, then swap via rename (close to atomic on HDFS-like
    * filesystems; on object stores, swap the pointer in a manifest
    * instead — same discipline, different primitive).
    *
    * Crash-safety contract (verified by the StoresSpec crash-point
    * property test via [[failpoint]]): a crash at ANY point leaves the
    * table readable as fully-old or fully-new rows — never a mixture,
    * never a half-written file set — because the only path readers see
    * changes solely via whole-directory renames. `_graft_*` sidecar
    * props are copied INTO the temp dir before the swap, so they travel
    * with the data rename — old table ⇒ props intact, new table ⇒ props
    * intact, never a table stripped of its layout metadata. The swap
    * itself is two renames, so there is an instant where the table path
    * does not exist; under the single-writer contract a concurrent
    * reader can transiently fail there (retryable), and a crash INSIDE
    * the window leaves the data recoverable in the `.old-*` sibling.
    * Stranded `.tmp-*` / `.old-*` siblings are invisible to `read`
    * (distinct directory names) and are garbage, not corruption.
    */
  def overwriteAtomic(table: String, df: DataFrame,
                      partitionCols: Seq[String] = Nil): Unit = {
    checkNoForeignLease(table, "atomic overwrite") // single-writer gate
    val dest = new Path(tablePath(table))
    val tmp = new Path(tablePath(table) + s".tmp-${System.nanoTime()}")
    val old = new Path(tablePath(table) + s".old-${System.nanoTime()}")
    // an empty partitioned write produces no files at all (schema lost);
    // fall back to one empty unpartitioned file, which preserves schema —
    // appendPartitioned clears it before the next partitioned append
    val effectiveParts = if (partitionCols.nonEmpty && df.isEmpty) Nil else partitionCols
    val props = allTableProps(table) // survive the swap
    df.write.mode("overwrite").partitionBy(effectiveParts: _*)
      .parquet(tmp.toString) // forces execution first
    props.foreach { case (k, v) => writePropFile(new Path(tmp, s"_graft_$k"), v) }
    // carry the runner's OWN lease across the swap (foreign refused
    // above) — crc-free like every lease write, so renewal's raw
    // rename-over never strands a mismatching checksum sidecar
    Sidecar.read(leasePath(table), spark.sparkContext.hadoopConfiguration)
      .foreach(t => writeLeaseRecordRaw(new Path(tmp, WriterLease), t))
    writeSwapMarkers(tmp, Nil) // staging complete — recovery may roll forward
    failpoint("tmp-written")
    val f = fs
    if (f.exists(dest) && !f.rename(dest, old))
      throw new java.io.IOException(s"swap failed for $table")
    failpoint("old-aside")
    if (!f.rename(tmp, dest)) {
      f.rename(old, dest) // roll back
      throw new java.io.IOException(s"swap failed for $table")
    }
    failpoint("swapped")
    f.delete(old, true)
    deleteSwapMarkers(dest)
    invalidateListing(table)
    invalidateSchema(table)
  }

  /** Crash-injection seam for the swap's property test: called at the
    * named points of the two-rename commit; a production store never
    * assigns it, so it stays a no-op. Deterministic injection is the only
    * way to pin the fully-old-or-fully-new contract — real filesystem
    * fault timing isn't reproducible in CI.
    */
  private[store] var failpoint: String => Unit = _ => ()

  /** M1 — partial update by predicate (base.py:38-52): copy-on-write
    * column rewrite. `assignments` are applied only where `cond` holds;
    * pass an `updated_at` assignment to mirror the onupdate trigger
    * (schema.py:33-37).
    */
  def updateWhere(table: String, cond: Column,
                  assignments: Map[String, Column],
                  partitionCols: Seq[String] = Nil): Unit = {
    def transform(df: DataFrame): DataFrame =
      assignments.foldLeft(df) { case (d, (name, value)) =>
        d.withColumn(name, when(cond, value).otherwise(col(name)))
      }
    // an assignment that MOVES rows across partition directories can't be
    // a per-directory swap (the target dir holds unaffected rows that a
    // rename would destroy) — only the whole-table path is correct there
    if (partitionCols.nonEmpty &&
        assignments.keys.exists(k => partitionCols.exists(_.equalsIgnoreCase(k))))
      overwriteAtomic(table, transform(read(table)), partitionCols)
    else if (partitionCols.isEmpty) filePrunedRewrite(table, cond)(transform)
    else prunedRewrite(table, cond, partitionCols)(transform)
  }

  /** M2/J4 — delete by predicate as a keep-the-rest rewrite. NULL-valued
    * predicates keep the row (NOT NULL is NULL and would silently delete
    * otherwise).
    */
  def deleteWhere(table: String, cond: Column,
                  partitionCols: Seq[String] = Nil): Unit =
    if (partitionCols.isEmpty)
      filePrunedRewrite(table, cond)(_.filter(!coalesce(cond, lit(false))))
    else prunedRewrite(table, cond, partitionCols)(
      _.filter(!coalesce(cond, lit(false))))

  /** True iff every partition column's type is one whose hive directory
    * rendering ([[hiveDirRel]]) is proven to match Spark's writer —
    * partial-rewrite paths must fall back to the whole-table rewrite for
    * anything else rather than risk a silent directory-name mismatch.
    */
  private def partitionTypesRenderable(
      schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String]): Boolean = {
    import org.apache.spark.sql.types._
    partitionCols.forall { c =>
      schema.find(_.name.equalsIgnoreCase(c)).map(_.dataType).exists {
        case StringType | ByteType | ShortType | IntegerType | LongType
             | BooleanType | DateType => true
        case _ => false
      }
    }
  }

  /** Hive leaf-directory path for one partition-value tuple, exactly as
    * Spark's writer produces it (hive escaping, null →
    * DEFAULT_PARTITION_NAME). The row must carry `partitionCols` in order.
    */
  private def hiveDirRel(partitionCols: Seq[String])
                        (r: org.apache.spark.sql.Row): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    partitionCols.zipWithIndex.map { case (c, i) =>
      val v = r.get(i)
      val s =
        if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else ExternalCatalogUtils.escapePathName(v.toString)
      s"${ExternalCatalogUtils.escapePathName(c)}=$s"
    }.mkString("/")
  }

  /** M4 — keyed upsert (MERGE): every source row whose key matches a
    * target row REPLACES that row's columns with the source's; source
    * rows matching nothing are INSERTED; target rows matching nothing are
    * untouched. The `MERGE ... WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *` shape — the batch form of the reference's
    * read-mutate-flush upsert session (base.py:38-52), which updates one
    * row per statement.
    *
    * Source contract, validated in one aggregation pass (fails loud,
    * before any write): every target column present, keys unique, keys
    * non-null — a duplicate or null source key would make "the matching
    * row" ambiguous. Target rows with null keys can match nothing and
    * are always retained.
    *
    * Scale shape — upserting a patch batch must cost O(affected + batch),
    * not O(table):
    *  - no key matches at all → plain append, zero rewrite I/O;
    *  - unpartitioned: one column-pruned pushdown join lists the FILES
    *    holding matched keys (`input_file_name`, capped at 4096); the
    *    staged rewrite reads only those files, drops their matched rows
    *    (left-anti on key) and unions the whole source; every untouched
    *    file crosses [[stageAndSwapWithKept]] by metadata-only rename;
    *  - partitioned: affected DIRECTORIES = dirs holding matched keys ∪
    *    dirs any source row lands in (a matched key whose partition value
    *    changed vacates the old dir and lands in the new — both are
    *    affected; a brand-new partition value simply isn't in the kept
    *    set, so the staged write creates it); unaffected dirs rename
    *    across whole.
    * Falls back to the whole-table rewrite on the same conditions as the
    * other CRUD paths: too many affected files/dirs, hive-on-disk layout
    * addressed without partitionCols, unmappable file names, unrenderable
    * partition types. Commit is the table-level ALL-OR-NOTHING swap with
    * the shared failpoints, so [[recoverSwapDebris]] covers a mid-merge
    * crash.
    */
  def merge(table: String, source: DataFrame, keyCols: Seq[String],
            partitionCols: Seq[String] = Nil): Unit = {
    require(keyCols.nonEmpty, "merge requires at least one key column")
    if (!exists(table)) {
      // first write: the merge degenerates to "insert everything", but the
      // source contract still holds (a later merge must be able to match)
      validateMergeColumns(source.columns.toSeq, source.columns.toSeq, keyCols)
      requireUniqueKeys(source, keyCols)
      overwriteAtomic(table, source, partitionCols)
      return
    }
    val targetCols = read(table).columns.toSeq
    // a source that predates a schema evolution may omit the evolved
    // columns — they null-fill here exactly as reads null-fill old files
    val filled = nullFillEvolvedColumns(table, source)
    validateMergeColumns(filled.columns.toSeq, targetCols, keyCols)
    // persisted: the source plan evaluates up to five times otherwise
    // (key-uniqueness aggregation, discovery join(s), the staged write's
    // union) — an expensively-derived patch batch must compute once
    val src = filled.select(targetCols.map(col): _*).persist()
    try {
      requireUniqueKeys(src, keyCols)
      mergeImpl(table, src, src, keyCols, partitionCols)
    } finally { src.unpersist(); () }
  }

  /** [EXT] CDC apply — [[merge]] completed with a DELETE clause: the
    * source is a CHANGEFEED whose `deleteCol` (boolean; null = false)
    * marks tombstones. Semantics per row, keyed on `keyCols`:
    *  - matched + tombstone    → target row DELETED
    *  - matched + not          → target row replaced with source values
    *  - unmatched + not        → inserted
    *  - unmatched + tombstone  → no-op (deleting the absent is idempotent)
    * One pruned pass over the same machinery as merge — files/dirs
    * holding matched keys rewrite, insert-target dirs join them, the
    * rest cross by rename — so applying a day's changefeed to a 100 TB
    * corpus costs the affected slice, not the table. Tombstones need
    * only their KEY columns populated (other target columns may be
    * null); insert-target partition dirs derive from the non-tombstone
    * rows alone, so a tombstone's null partition values never mislead
    * dir discovery. Keys must be unique across the WHOLE feed (a key
    * cannot be both upserted and deleted in one apply — collapse the
    * feed to last-writer-wins first). Idempotent: re-applying the same
    * feed converges (deletes of the already-deleted are no-ops, upserts
    * re-apply the same values).
    */
  def mergeCdc(table: String, source: DataFrame, keyCols: Seq[String],
               deleteCol: String = "_deleted",
               partitionCols: Seq[String] = Nil): Unit = {
    require(keyCols.nonEmpty, "mergeCdc requires at least one key column")
    val delField = source.columns.find(_.equalsIgnoreCase(deleteCol))
      .getOrElse(throw new IllegalArgumentException(
        s"mergeCdc source must carry the '$deleteCol' tombstone column"))
    val notDeleted = !coalesce(col(delField).cast("boolean"), lit(false))
    if (!exists(table)) {
      val ins = source.filter(notDeleted).drop(delField)
      validateMergeColumns(ins.columns.toSeq, ins.columns.toSeq, keyCols)
      requireUniqueKeys(source, keyCols)
      if (!ins.isEmpty) overwriteAtomic(table, ins, partitionCols)
      return
    }
    val targetCols = read(table).columns.toSeq
    // pre-evolution changefeeds keep flowing: evolved-only columns
    // null-fill (see nullFillEvolvedColumns) — a live CdcStream survives
    // a mid-feed evolveSchema without a feed redeploy
    val filled = nullFillEvolvedColumns(table, source)
    validateMergeColumns(filled.columns.filterNot(_ == delField).toSeq,
      targetCols, keyCols)
    val changes = filled.persist()
    try {
      requireUniqueKeys(changes, keyCols)
      val srcAll = changes.select(targetCols.map(col): _*)
      val insertDf = changes.filter(notDeleted).select(targetCols.map(col): _*)
      mergeImpl(table, srcAll, insertDf, keyCols, partitionCols)
    } finally { changes.unpersist(); () }
  }

  /** Shared engine of [[merge]] and [[mergeCdc]]. `src` carries EVERY
    * change row (its keys drive matched-file/dir discovery and the
    * anti-join that removes old versions AND deleted rows); `insertDf`
    * carries only the rows that re-enter the table. For plain merge the
    * two are the same frame; for CDC the tombstones are in `src` but
    * not `insertDf`. Both must be derived from a persisted frame (the
    * plans evaluate several times).
    */
  private def mergeImpl(table: String, src: DataFrame, insertDf: DataFrame,
                        keyCols: Seq[String],
                        partitionCols: Seq[String]): Unit = {
    val srcKeys = src.select(keyCols.map(col): _*)
    // new content of the affected slice: its rows minus every CHANGED
    // key (old versions and deletions drop), plus the re-entering rows
    def stagedFrom(affected: DataFrame): DataFrame =
      affected.join(srcKeys, keyCols, "left_anti").unionByName(insertDf)
    def full(): Unit =
      overwriteAtomic(table, stagedFrom(read(table)), partitionCols)

    if (partitionCols.isEmpty) {
      val visible = listVisibleFiles(table).map(_._1)
      // hive-on-disk addressed unpartitioned: same degrade as the CRUD
      // paths — a mixed staged layout would be unreadable
      if (visible.exists(_.contains('/'))) return full()
      // input_file_name() must be projected BEFORE the join: evaluated
      // above a shuffle (sort-merge path) it returns the empty string
      val fileCol = graft.ops.Cols.fresh(read(table), "_graft_file")
      val affectedRaw = read(table)
        .select(keyCols.map(col) :+ input_file_name().as(fileCol): _*)
        .join(srcKeys, keyCols, "left_semi")
        .select(fileCol).distinct().limit(4097).collect()
        .map(_.getString(0))
      if (affectedRaw.isEmpty) {
        if (!insertDf.isEmpty) append(table, insertDf)
        return
      }
      if (affectedRaw.length > 4096) return full()
      val rels = affectedRaw.map(relativizer(table))
      if (rels.exists(_.isEmpty)) return full()
      val affected = rels.flatten.toSet
      if (!affected.subsetOf(visible.toSet)) return full()
      if (affected.size * 2 > visible.size) return full()
      val kept = visible.filterNot(affected)
      val stagedDf = stagedFrom(readFilesUnder(table, affected.toSeq))
      stageAndSwapWithKept(table, stagedDf, kept, Nil)
    } else {
      if (!partitionTypesRenderable(read(table).schema, partitionCols))
        return full()
      val visible = listVisibleFiles(table).map(_._1)
      // a table that is FLAT on disk (root-level data files) must not
      // take ANY partitioned shortcut: a hive-partitioned append or
      // staged write next to root-level parquet is a mixed layout no
      // reader can load — the mirror of the unpartitioned branch's
      // guard. The whole-table rewrite converges it to the partitioned
      // layout the caller addressed. (Root-level NON-parquet strays are
      // foreign files, tolerated below by keeping them file-by-file.)
      if (visible.exists(v => !v.contains('/') && v.endsWith(".parquet")))
        return full()
      val dirRel = hiveDirRel(partitionCols) _
      val matchedTuples = read(table).join(srcKeys, keyCols, "left_semi")
        .select(partitionCols.map(col): _*).distinct().limit(257).collect()
      if (matchedTuples.isEmpty) { appendPartitioned(table, insertDf, partitionCols); return }
      // insert-target dirs derive from the RE-ENTERING rows only — a
      // tombstone's partition values may legitimately be null/garbage
      val sourceTuples = insertDf
        .select(partitionCols.map(col): _*).distinct().limit(257).collect()
      if (matchedTuples.length > 256 || sourceTuples.length > 256) return full()

      val leafDirs = visible.collect {
        case rel if rel.contains('/') => rel.take(rel.lastIndexOf('/'))
      }.toSet
      val matchedDirs = matchedTuples.map(dirRel).toSet
      // matched dirs come FROM the table, so they must exist on disk —
      // anything else is a rendering-class bug and gets the safe path
      if (!matchedDirs.subsetOf(leafDirs)) return full()
      // a source-derived dir may legitimately not exist yet (new
      // partition value); it joins the affected set so any CURRENT rows
      // of an existing insert-target dir enter the staged rewrite
      val allTuples = (matchedTuples ++ sourceTuples)
        .map(r => dirRel(r) -> r).toMap
      if (allTuples.size > 256) return full()
      val affectedDirs = allTuples.keySet
      val kept = (leafDirs -- affectedDirs).toSeq ++
        visible.filterNot(_.contains('/'))

      // value-based partition-pruned input over ALL affected dirs
      val prunePred = allTuples.values.map { r =>
        partitionCols.zipWithIndex.map { case (c, i) =>
          val v = r.get(i)
          if (v == null) col(c).isNull else col(c) <=> lit(v)
        }.reduce(_ && _)
      }.reduce(_ || _)
      stageAndSwapWithKept(table,
        stagedFrom(read(table).filter(prunePred)), kept, partitionCols)
    }
  }

  /** The structural half of the [[merge]] source contract (no Spark job):
    * all target columns present, keys among them — case-insensitive.
    */
  private def validateMergeColumns(sourceCols: Seq[String],
                                   targetCols: Seq[String],
                                   keyCols: Seq[String]): Unit = {
    val have = sourceCols.map(_.toLowerCase).toSet
    val missing = targetCols.filterNot(c => have.contains(c.toLowerCase))
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"merge source is missing target columns: ${missing.mkString(", ")}")
    val badKey = keyCols.filterNot(c => have.contains(c.toLowerCase))
    if (badKey.nonEmpty) throw new IllegalArgumentException(
      s"merge key columns absent from source: ${badKey.mkString(", ")}")
  }

  /** The data half of the [[merge]] source contract, one aggregation job:
    * keys unique and non-null. Throws naming the offending key.
    */
  private def requireUniqueKeys(src: DataFrame, keyCols: Seq[String]): Unit = {
    val keyIsNull = keyCols.map(c => col(c).isNull).reduce(_ || _)
    val offenders = src.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_graft_n"))
      .filter(col("_graft_n") > 1 || keyIsNull)
      .limit(1).collect()
    if (offenders.nonEmpty) throw new IllegalArgumentException(
      s"merge source keys must be unique and non-null on " +
        s"(${keyCols.mkString(", ")}); offending key: ${offenders.head}")
  }

  /** Copy-on-write rewrite of ONLY the data files holding rows that match
    * `cond` — the unpartitioned sibling of [[prunedRewrite]], and the
    * path that makes single-row CRUD affordable at corpus scale: a
    * metainfo patch on a compacted documents table rewrites the one
    * ~128 MB file containing the row, not the table.
    *
    * One column-pruned scan with the predicate pushed to parquet (row-
    * group stats skip non-matching files cheaply) lists the files that
    * hold matching rows via `input_file_name()`; the transform runs over
    * just those files, and every untouched file crosses the
    * [[stageAndSwapWithKept]] swap by metadata-only rename. Unlike the
    * per-directory variant this commit is table-level ALL-OR-NOTHING —
    * one swap at the end. Falls back to the whole-table rewrite when the
    * match spans more than half the files (rename churn would exceed the
    * savings) or when a listed file can't be mapped back to a visible
    * data file (foreign layouts).
    */
  private def filePrunedRewrite(table: String, cond: Column)
                               (transform: DataFrame => DataFrame): Unit = {
    def full(): Unit = overwriteAtomic(table, transform(read(table)))
    val visible = listVisibleFiles(table).map(_._1)
    // a table that is hive-partitioned ON DISK but addressed without
    // partitionCols must not take this path: an unpartitioned staged
    // write next to kept partition directories is a mixed layout no
    // reader can load — degrade to the (flattening) whole-table rewrite
    // the pre-pruning code performed
    if (visible.exists(_.contains('/'))) return full()
    // discovery filters on the RAW cond (filter already treats NULL as
    // false) so it stays translatable to a parquet data-source filter —
    // a coalesce wrapper would defeat the row-group stats skipping this
    // path exists for. Capped collect: past 4096 affected files the
    // pruning gains nothing, and the driver must not hold an unbounded
    // name list for a corpus-wide predicate
    val affectedRaw = read(table).filter(cond)
      .select(input_file_name().as("_f")).distinct().limit(4097).collect()
      .map(_.getString(0))
    if (affectedRaw.isEmpty) return // nothing matches: zero write I/O
    if (affectedRaw.length > 4096) return full()
    val relOf = relativizer(table)
    val rels = affectedRaw.map(relOf)
    if (rels.exists(_.isEmpty)) return full()
    val affected = rels.flatten.toSet
    if (!affected.subsetOf(visible.toSet)) return full()
    if (affected.size * 2 > visible.size) return full()
    val kept = visible.filterNot(affected)
    val transformed = transform(readFilesUnder(table, affected.toSeq))
    stageAndSwapWithKept(table, transformed, kept, Nil)
  }

  /** A provably-EMPTY result in the table's effective schema. The pruned
    * reads return this when no file can hold a matching row (key past
    * every footer band, inverted range, empty key set) — the common
    * "404" shape of a serving point lookup. `read(table).filter(false)`
    * would be semantically identical but PLANS the whole table: at
    * corpus file counts the absent-key lookup would pay an O(#files)
    * Spark listing to return zero rows. A local empty relation plans
    * nothing; the schema comes from the cached [[tableSchema]] (the
    * evolved declaration when one exists), with the filtered read kept
    * as fallback for a table whose schema is momentarily uninferrable.
    */
  private def emptyResult(table: String): DataFrame =
    tableSchema(table) match {
      case Some(schema) => spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      case None => read(table).filter(lit(false))
    }

  /** Read a SUBSET of a table's files under its base path, under the
    * same cached [[tableSchema]] as [[read]] — every partial read
    * (merge's affected slice, the pruned rewrites, the stats-pruned
    * point reads) must see exactly what [[read]] serves, or a
    * pre-evolution file subset would resolve the old footer shape and
    * break unions with evolved frames. Building the frame runs no job.
    */
  private def readFilesUnder(table: String, rels: Seq[String]): DataFrame = {
    val reader = spark.read.option("basePath", tablePath(table))
    tableSchema(table).foreach(reader.schema)
    reader.parquet(rels.sorted.map(r => s"${tablePath(table)}/$r"): _*)
  }

  /** Copy-on-write rewrite of ONLY the hive partition directories holding
    * rows that match `cond` — the cluster-scale CRUD path the class doc
    * promises: a single-document cascade delete on a 16-bucket chunks
    * table rewrites one directory, not sixteen, and an untouched
    * directory's bytes are never read or written (pinned by
    * `PrunedRewriteSpec` on file names+mtimes).
    *
    * Shape: one slim scan finds the affected partition values (cond
    * columns + partition columns only — column-pruned at the parquet
    * reader), the rewrite input is the partition-pruned scan of just
    * those directories, and the commit is [[stageAndSwapWithKept]] with
    * every UNAFFECTED leaf directory carried across as one whole-dir
    * rename — table-level ALL-OR-NOTHING (same contract and failpoints
    * as the file-level and compaction paths), O(#directories) metadata
    * ops. Partition values are mapped to directory names with Spark's
    * own hive escaping; the rendering is only proven for string /
    * integral / boolean / date partition columns, and any other type —
    * or an affected value whose rendered directory is not found on disk
    * — falls back to the whole-table rewrite rather than risk a silent
    * mismatch.
    */
  private def prunedRewrite(table: String, cond: Column,
                            partitionCols: Seq[String])
                           (transform: DataFrame => DataFrame): Unit = {
    def full(): Unit = overwriteAtomic(table, transform(read(table)), partitionCols)
    if (!partitionTypesRenderable(read(table).schema, partitionCols))
      return full()
    // raw cond (not coalesce-wrapped): filter drops NULLs anyway, and the
    // raw predicate stays pushdown-translatable for stats skipping
    val affected = read(table).filter(cond)
      .select(partitionCols.map(col): _*).distinct().limit(257).collect()
    if (affected.isEmpty) return // nothing matches: zero I/O, not a rewrite
    // a predicate touching very many directories gains nothing from
    // pruning and would bloat the partition filter — whole-table path
    if (affected.length > 256) return full()

    val affectedDirs = affected.map(hiveDirRel(partitionCols)).toSet

    // leaf partition dirs actually on disk = parents of visible files;
    // stray root-level files (foreign writers) are kept file-by-file
    val visible = listVisibleFiles(table).map(_._1)
    val leafDirs = visible.collect {
      case rel if rel.contains('/') => rel.take(rel.lastIndexOf('/'))
    }.toSet
    // safety net for finding-class rendering bugs: every affected tuple
    // MUST map to a directory that exists — else the swap below would
    // silently drop or miss data
    if (!affectedDirs.subsetOf(leafDirs)) return full()
    val kept = (leafDirs -- affectedDirs).toSeq ++
      visible.filterNot(_.contains('/'))

    // partition-pruned input: OR over the affected value tuples, each a
    // null-safe conjunction — lands in the scan's PartitionFilters, so
    // unaffected directories are never opened (plan pinned in spec)
    val prunePred = affected.map { r =>
      partitionCols.zipWithIndex.map { case (c, i) =>
        val v = r.get(i)
        if (v == null) col(c).isNull else col(c) <=> lit(v)
      }.reduce(_ && _)
    }.reduce(_ || _)

    stageAndSwapWithKept(table,
      transform(read(table).filter(prunePred)), kept, partitionCols)
  }

  /** Maps an `input_file_name()` URI back to a path relative to the table
    * root; None when the file lies outside the table (a plan that read
    * foreign paths must not drive a partial rewrite).
    */
  private def relativizer(table: String): String => Option[String] = {
    val rootPath = fs.makeQualified(new Path(tablePath(table))).toUri.getPath
    (s: String) => {
      val p = try new java.net.URI(s).getPath catch { case _: Exception => s }
      if (p == null || !p.startsWith(rootPath)) None
      else Some(p.stripPrefix(rootPath).stripPrefix("/"))
    }
  }

  /** Every VISIBLE file under the table directory as (path relative to the
    * table root, length): the same hidden-path rule reads use — any path
    * component starting with `_` or `.` (crashed-write `_temporary` debris,
    * `.old-*`/`.tmp-*` swap siblings, `_graft_*` sidecars, `_SUCCESS`) is
    * not data. Includes non-`.parquet` visible files (a foreign writer's
    * doing) so callers can decide whether such a file invalidates a
    * metadata-only shortcut.
    */
  private def isHiddenRel(rel: String): Boolean =
    rel.split("/").exists(s => s.startsWith("_") || s.startsWith("."))

  private def listVisibleFiles(table: String): Seq[(String, Long)] =
    listVisibleFilesMeta(table).map(v => (v._1, v._2))

  /** As [[listVisibleFiles]] but carrying the modification time — the
    * identity the stats manifest validates entries against (files in
    * this store are immutable once written: appends create new names,
    * rewrites swap whole directories — so (rel, len, mtime) matching
    * means the footer bytes are the ones the manifest summarized).
    */
  /** Opt-in TTL cache for [[listVisibleFilesMeta]]
    * (`spark.graft.listingCacheTtlMs`, default 0 = off). The pruned
    * reads made point lookups plan O(matched files), but every lookup
    * still paid an O(#files) recursive directory listing on the driver
    * — at ~800k files that listing IS the serving latency. With a TTL,
    * repeated lookups amortize one listing per window. Consistency
    * contract: every MUTATION through THIS instance invalidates its
    * entry (appends, swaps, recovery), so the owning writer-and-server
    * process — the demo wiring — always reads its own writes exactly;
    * only a FOREIGN writer's files can be invisible, for at most the
    * TTL (the same bounded staleness any cross-process cache has). A
    * stale entry can also name files a foreign swap just removed — the
    * scan then fails loudly (retryable), never returns wrong rows
    * silently. Single-writer deployments (the lease's contract) are
    * exact; leave the TTL at 0 when foreign writers must be visible
    * instantly. The SERIAL id allocator ([[maxId]]) BYPASSES this cache
    * unconditionally — appends are not lease-gated, and an allocator
    * answered from a stale listing would mint colliding ids (see
    * [[listVisibleFilesMetaFresh]]).
    */
  private val listingCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Seq[(String, Long, Long)])]()

  private def listingTtlMs: Long =
    spark.conf.get("spark.graft.listingCacheTtlMs", "0").toLong

  /** Test-visible count of REAL (uncached) listings. */
  private[graft] val listingsPerformed = new java.util.concurrent.atomic.AtomicLong

  private[store] def invalidateListing(table: String): Unit = {
    listingCache.remove(table); ()
  }

  private def listVisibleFilesMeta(table: String): Seq[(String, Long, Long)] = {
    val ttl = listingTtlMs
    if (ttl <= 0) return listVisibleFilesMetaFresh(table)
    val now = System.nanoTime()
    val hit = listingCache.get(table)
    if (hit != null && now - hit._1 < ttl * 1000000L) return hit._2
    val fresh = listVisibleFilesMetaFresh(table)
    listingCache.put(table, (now, fresh))
    fresh
  }

  /** Always-live listing, refreshing the cache entry as a side effect.
    * The SERIAL id allocator ([[maxId]] → [[footerMaxId]]) must use this
    * tier: appends are deliberately NOT lease-gated (they cannot corrupt
    * the swap protocol), so a foreign writer's fresh append is a
    * legitimate concurrent event even in a leased deployment — an
    * id-allocation answered from a TTL-stale listing could under-report
    * the max and silently mint COLLIDING ids. Bounded staleness is fine
    * for reads (a query sees the table as of ≤TTL ago — ordinary
    * snapshot semantics); it is never fine for an allocator.
    */
  private def listVisibleFilesMetaFresh(table: String): Seq[(String, Long, Long)] = {
    listingsPerformed.incrementAndGet()
    val fresh = listVisibleFilesAt(new Path(tablePath(table)))
    if (listingTtlMs > 0) listingCache.put(table, (System.nanoTime(), fresh))
    fresh
  }

  private def listVisibleFilesAt(dir: Path): Seq[(String, Long, Long)] = {
    val f = fs
    val rootPath = f.makeQualified(dir).toUri.getPath
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val it = f.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(rootPath).stripPrefix("/")
      if (!isHiddenRel(rel)) out += ((rel, st.getLen, st.getModificationTime))
    }
    out.toSeq
  }

  /** Max value of an id column, or 0 on empty/missing table (the SERIAL
    * replacement — SURVEY §7.4.2).
    *
    * Answered from parquet FOOTER STATISTICS — O(#files) metadata reads
    * instead of an O(rows) column scan. Streaming ingest calls this once
    * per table per micro-batch, so at corpus scale the scan version
    * would re-read billions of id values every trigger; footers are a
    * few KB each and [[compact]] keeps the file count bounded. Falls
    * back to the exact scan whenever any footer lacks usable statistics
    * (foreign writers, type mismatch) — never trusts a partial answer,
    * because an under-reported max would mint colliding SERIAL ids.
    */
  def maxId(table: String, idCol: String): Long =
    if (!exists(table)) 0L
    else footerMaxId(table, idCol).getOrElse(
      read(table).agg(coalesce(max(col(idCol)), lit(0L))).head().getLong(0))

  /** Max of `idCol` across every data file's row-group statistics, 0 when
    * the table has no non-null values (the empty-table marker included).
    * None = statistics unusable somewhere → caller must scan. The rules
    * err loudly toward the scan, never toward a guess:
    *
    *  - any VISIBLE file that is not `*.parquet` → None. The scan path
    *    (`spark.read.parquet`) would read such a foreign-written file as
    *    data; silently skipping it here could under-report the max and
    *    mint colliding SERIAL ids.
    *  - a row group with no min/max is trusted as value-less only when
    *    its null count is recorded AND equals its row count (genuinely
    *    all-null). A foreign writer that truncated or dropped min/max
    *    (hasNonNullValue=false, rows not all null) → None.
    *  - seeded at Long.MinValue for exact parity with the scan on
    *    negative ids; a table with rows but zero non-null id values
    *    reports 0, matching the scan's `coalesce(max(id), 0)`.
    *
    * Cost note: up to [[TableStore.ExecutorFooterThreshold]] files this
    * is a driver-side metadata pass fanned across a bounded thread pool
    * (the same driver-listing pattern Spark's InMemoryFileIndex uses) —
    * a Spark job would cost more in scheduling than the reads. Past the
    * threshold the footer reads run as ONE executor-side job over the
    * path list (a corpus in 128 MB files at 100 TB is ~800k footers —
    * metadata I/O that belongs on the cluster, not the driver), with the
    * exact same never-guess verdict rules on both tiers
    * (`FooterMaxIdSpec` pins tier-equivalence at high file count).
    * Compaction keeps the count near the threshold in practice
    * ([[compactIncremental]] holds it at O(table bytes / threshold)).
    */
  private[store] def footerMaxId(table: String, idCol: String): Option[Long] = try {
    // FRESH listing, never the TTL cache: see [[listVisibleFilesMetaFresh]]
    val meta = listVisibleFilesMetaFresh(table)
    if (meta.exists(v => !v._1.endsWith(".parquet"))) return None
    val files = meta.filter(_._2 > 0)
    if (files.isEmpty) return Some(0L)
    // manifest-covered files answer without touching their footers —
    // maxId runs once per table per STREAMING TRIGGER, so on a compacted
    // corpus this turns a per-trigger O(#files) metadata pass into
    // O(appends since the last compaction refresh). Identical rules:
    // the canonical verdict encodes exactly the never-guess semantics
    // (0 = unusable anywhere → scan; 1 = provably value-less; 2 = max)
    val cached = manifestVerdicts(table, idCol, TableStore.IntegralUnit)
    val (hit, miss) = files.partition(v => cached.contains((v._1, v._2, v._3)))
    val missVerdicts: Seq[(Int, String, String)] =
      if (miss.isEmpty) Nil
      else {
        val idc = idCol
        footerScanVerdicts(
          miss.map(v => new Path(tablePath(table) + "/" + v._1)),
          (p, c) => TableStore.footerStatsCanonical(p, c, idc,
            TableStore.IntegralUnit)).map(_._2)
      }
    val verdicts = hit.map(v => cached((v._1, v._2, v._3))) ++ missVerdicts
    if (verdicts.exists(_._1 == 0)) return None // some footer unusable → scan
    val values = verdicts.collect { case (2, _, mx) => mx.toLong }
    Some(if (values.isEmpty) 0L else values.max)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Hadoop Configuration is not serializable; ship its entries as a map
    * and rebuild per partition (the [[ObjectStore]] bulk-op pattern).
    */
  private def serializableHadoopConf: Map[String, String] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  /** Total bytes of the table's DATA files (hidden `_temporary`/`.old-*`
    * debris excluded — the same visibility rule reads use). 0 for a
    * missing table. Callers size compaction targets from this.
    */
  def sizeInBytes(table: String): Long =
    if (!exists(table)) 0L
    else listVisibleFiles(table).collect {
      case (rel, len) if rel.endsWith(".parquet") => len
    }.sum

  /** Stats-pruned range read: the table filtered to `lo <= column <= hi`
    * (inclusive, integral column), with the FILE LIST pruned by parquet
    * footer min/max BEFORE the scan is planned. Spark's parquet reader
    * already skips non-matching ROW GROUPS at execution time, but every
    * file still costs a planned task and an opened footer on an executor;
    * at 100 TB (~800k files at 128 MB) a selective range over a clustered
    * layout should schedule tens of tasks, not 800k. This is the
    * read-side payoff of [[graft.ops.Layout.writeZClustered]] and of any
    * sort-ordered ingest: write-time clustering makes per-file [min, max]
    * tight, and this read turns that into a short file list.
    *
    * Exactness is unconditional — the final row filter is always applied,
    * and a file whose statistics are unusable (foreign writer, missing
    * stats, non-integral physical type) is conservatively KEPT and
    * scanned, so unlike [[maxId]] there is no fall-back-or-guess
    * decision; pruning only ever removes files PROVED disjoint from the
    * range (or provably all-null — `BETWEEN` is null-rejecting). Footer
    * reads fan across the shared driver pool below
    * [[TableStore.ExecutorFooterThreshold]] files and run as one
    * executor-side job above it, same two-tier shape as [[footerMaxId]].
    */
  def readRange(table: String, column: String, lo: Long, hi: Long): DataFrame = {
    if (lo > hi) return emptyResult(table)
    statsPrunedRead(table, col(column).between(lo, hi),
      column, TableStore.IntegralUnit, {
        case (0, _, _)   => true
        case (2, mn, mx) => mx.toLong >= lo && mn.toLong <= hi
        case _           => false
      })
  }

  /** [[readRange]] for TIMESTAMP columns — the time-window scan an events
    * or crawl-log table answers constantly. Needs its own typed overload
    * because the two sides of the comparison live in different units:
    * parquet stores the column as INT64 micros (and its footer min/max
    * are micro Longs, which [[TableStore.footerRangeCode]] already
    * reads), while a Spark `BETWEEN` against a Long literal would cast
    * the literal as SECONDS — silently off by 10^6. Bounds convert to
    * micros for the footer test and stay `Timestamp` literals in the row
    * filter, so both sides agree. Same conservative-keep exactness rules
    * as the integral read (a legacy INT96 file has non-Long statistics →
    * unusable → scanned).
    */
  def readRange(table: String, column: String,
                lo: java.sql.Timestamp, hi: java.sql.Timestamp): DataFrame = {
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L
    if (lo.after(hi)) return emptyResult(table)
    val (loU, hiU) = (micros(lo), micros(hi))
    statsPrunedRead(table, col(column).between(lit(lo), lit(hi)),
      column, TableStore.TimestampMicrosUnit, {
        case (0, _, _)   => true
        case (2, mn, mx) => mx.toLong >= loU && mn.toLong <= hiU
        case _           => false
      })
  }

  /** Conjunctive stats-pruned read over SEVERAL integral ranges — the
    * read that makes a multi-dimensional layout pay off: on a Z-ordered
    * table ([[graft.ops.Layout.writeZClusteredN]]) every dimension's
    * per-file [min, max] is tight, so the intersection of the per-column
    * file sets is a small fraction of what any single predicate keeps.
    * A file proved disjoint from ANY conjunct holds no matching row;
    * the row filter (the AND of all BETWEENs) still applies, so the
    * result is always exactly the plain filtered read.
    */
  def readRangeAll(table: String,
                   ranges: Seq[(String, Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "readRangeAll needs at least one range")
    if (ranges.exists { case (_, lo, hi) => lo > hi })
      return emptyResult(table)
    val rowFilter = ranges.map { case (c, lo, hi) =>
      col(c).between(lo, hi)
    }.reduce(_ && _)
    statsPrunedReadMulti(table, rowFilter, ranges.map { case (c, lo, hi) =>
      (c, TableStore.IntegralUnit,
        (v: (Int, String, String)) => v match {
          case (0, _, _)   => true
          case (2, mn, mx) => mx.toLong >= lo && mn.toLong <= hi
          case _           => false
        })
    })
  }

  /** Stats-pruned point-SET read: the table filtered to `column IN
    * values` (integral column), keeping only files whose footer
    * [min, max] contains AT LEAST ONE of the values — the batch-lookup
    * shape ("fetch these 500 documents by id") that a range cannot
    * express when the keys are scattered. On a clustered layout each
    * file's band is narrow, so k scattered keys plan O(k) files instead
    * of the whole table. Per-file test is a binary search over the
    * sorted value set (O(log k), not O(k)); same conservative-keep
    * exactness rules as [[readRange]] (the IN row filter always applies;
    * IN is null-rejecting, so provably all-null files drop).
    */
  def readIn(table: String, column: String, values: Seq[Long]): DataFrame = {
    if (values.isEmpty) return emptyResult(table)
    val sorted = values.distinct.sorted
    val arr = sorted.toArray
    statsPrunedRead(table, col(column).isInCollection(sorted),
      column, TableStore.IntegralUnit, {
        case (0, _, _) => true
        case (2, mn, mx) =>
          val lo = mn.toLong
          val hi = mx.toLong
          val i = java.util.Arrays.binarySearch(arr, lo)
          val at = if (i >= 0) i else -i - 1 // first value >= lo
          at < arr.length && arr(at) <= hi
        case _ => false
      })
  }

  /** Conjunctive point-SET read — [[readIn]]'s sibling of
    * [[readRangeAll]]: the table filtered to `AND_i (col_i IN values_i)`,
    * keeping only files whose footer band intersects EVERY conjunct's
    * value set. The batch-serving shape: "all chunks of these 500
    * documents" prunes the doc_bucket PARTITION directories to the ids'
    * bucket set (dir-name verdicts, zero footer opens) and the surviving
    * files by document_id footer bands. Same exactness rules; a file
    * proved disjoint from ANY conjunct holds no matching row.
    */
  def readInAll(table: String,
                conjuncts: Seq[(String, Seq[Long])]): DataFrame = {
    require(conjuncts.nonEmpty, "readInAll needs at least one conjunct")
    if (conjuncts.exists(_._2.isEmpty))
      return emptyResult(table)
    val rowFilter = conjuncts.map { case (c, vs) =>
      col(c).isInCollection(vs.distinct)
    }.reduce(_ && _)
    statsPrunedReadMulti(table, rowFilter, conjuncts.map { case (c, vs) =>
      val arr = vs.distinct.sorted.toArray
      (c, TableStore.IntegralUnit,
        (v: (Int, String, String)) => v match {
          case (0, _, _) => true
          case (2, mn, mx) =>
            val lo = mn.toLong
            val hi = mx.toLong
            val i = java.util.Arrays.binarySearch(arr, lo)
            val at = if (i >= 0) i else -i - 1
            at < arr.length && arr(at) <= hi
          case _ => false
        })
    })
  }

  /** [[readIn]] for STRING keys — the batch-lookup read the engine's own
    * content-hash id design needs (SURVEY §7.4.2: ids are hash strings,
    * so "hydrate these 500 documents" arrives as scattered string keys).
    * A file is kept when its footer byte-bounds contain at least one
    * requested key (binary search of the sorted UTF-8 byte set per file
    * — unsigned byte order IS Spark's string order, the [[readPrefix]]
    * invariant). Same conservative-keep exactness rules.
    */
  def readInStrings(table: String, column: String, values: Seq[String]): DataFrame = {
    if (values.isEmpty) return emptyResult(table)
    val sorted = values.distinct.sorted
    val arr: Array[Array[Byte]] = sorted
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    val dec = java.util.Base64.getUrlDecoder
    statsPrunedRead(table, col(column).isInCollection(sorted),
      column, TableStore.Utf8Unit, {
        case (0, _, _) => true
        case (2, mn, mx) =>
          val lo = dec.decode(mn)
          val hi = dec.decode(mx)
          // first key >= lo (binary search over the sorted byte arrays)
          var a = 0
          var b = arr.length
          while (a < b) {
            val m = (a + b) >>> 1
            if (TableStore.cmpBytes(arr(m), lo) < 0) a = m + 1 else b = m
          }
          a < arr.length && TableStore.cmpBytes(arr(a), hi) <= 0
        case _ => false
      })
  }

  /** [[readRange]] for DATE columns — parquet stores DATE as INT32 days
    * since the epoch, so the footer bounds compare against day counts
    * while the row filter stays a Date BETWEEN. `java.sql.Date.toLocalDate
    * .toEpochDay` is the writer's own day arithmetic (calendar-safe,
    * unlike millis/86400000 around DST-less-but-offset-shifted zones).
    */
  def readRange(table: String, column: String,
                lo: java.sql.Date, hi: java.sql.Date): DataFrame = {
    def days(d: java.sql.Date): Long = d.toLocalDate.toEpochDay
    if (lo.after(hi)) return emptyResult(table)
    val (loD, hiD) = (days(lo), days(hi))
    statsPrunedRead(table, col(column).between(lit(lo), lit(hi)),
      column, TableStore.DateDaysUnit, {
        case (0, _, _)   => true
        case (2, mn, mx) => mx.toLong >= loD && mn.toLong <= hiD
        case _           => false
      })
  }

  /** [[readRange]]'s sibling for STRING keys: the table filtered to rows
    * whose `column` starts with `prefix`, with files pruned by footer
    * byte bounds. This is the pruned read the engine's own 100 TB id
    * design needs — content-hash ids (SURVEY §7.4.2) are strings, so a
    * clustered documents table answers "all chunks of doc `ab12…`" or
    * "every key under `source/domain/`" from the files whose [min, max]
    * straddle the prefix. A string with prefix p sorts in
    * [p, nextPrefix(p)), so the overlap test is two byte comparisons per
    * file; the same conservative-keep rules as [[readRange]] make the
    * result always exactly the plain `startsWith` filter.
    */
  def readPrefix(table: String, column: String, prefix: String): DataFrame = {
    if (prefix.isEmpty) return read(table).filter(col(column).startsWith(prefix))
    val pBytes = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val upper = TableStore.nextPrefixBytes(pBytes)
    val dec = java.util.Base64.getUrlDecoder
    statsPrunedRead(table, col(column).startsWith(prefix),
      column, TableStore.Utf8Unit, {
        case (0, _, _) => true
        case (2, mn, mx) =>
          TableStore.cmpBytes(dec.decode(mx), pBytes) >= 0 &&
            upper.forall(u => TableStore.cmpBytes(dec.decode(mn), u) < 0)
        case _ => false
      })
  }

  /** Shared scaffolding of the stats-pruned reads ([[readRange]] thrice,
    * [[readPrefix]]): list visible files, bail to the plain filtered
    * read when any visible file is not parquet (the fallback scan would
    * read it as data — footers can't answer for it), resolve each file's
    * verdict — from the STATS MANIFEST when a validated entry exists,
    * live footers otherwise — keep the files `keepVerdict` accepts
    * (every caller encodes "unusable → keep", which is what makes the
    * reads unconditionally exact; a verdict that fails to DECODE is also
    * kept), and re-read just those under `basePath` with the row filter
    * applied. ONE copy of the conservative-keep rules — a fix lands
    * once, not three times.
    *
    * Scale note: without the manifest every pruned read pays an
    * O(#files) footer-metadata pass (bounded, two-tier, but PER QUERY).
    * With [[declareStatsColumns]] + the compaction-cadence refresh, the
    * compacted bulk answers from one sidecar read and only the
    * fresh-append tail is read live — the same O(new tail) discipline
    * the storage layer applies everywhere else.
    */
  private def statsPrunedRead(table: String, rowFilter: Column,
      column: String, unit: TableStore.StatsUnit,
      keepVerdict: ((Int, String, String)) => Boolean): DataFrame =
    statsPrunedReadMulti(table, rowFilter, Seq((column, unit, keepVerdict)))

  /** The conjunctive form: a file survives only if EVERY spec keeps it —
    * correct because the row filter is the conjunction of the specs'
    * predicates, so a file proved disjoint from ANY conjunct can hold no
    * matching row. Verdicts resolve manifest-first, and every miss file
    * pays ONE footer open for ALL specs (the k-conjunct read must not
    * cost k footer passes) and ONE manifest parse total.
    */
  private def statsPrunedReadMulti(table: String, rowFilter: Column,
      specs: Seq[(String, TableStore.StatsUnit,
        ((Int, String, String)) => Boolean)]): DataFrame = {
    def fallback = read(table).filter(rowFilter)
    val meta = listVisibleFilesMeta(table)
    if (meta.isEmpty || meta.exists(v => !v._1.endsWith(".parquet")))
      return fallback
    val files = meta.filter(_._2 > 0)
    if (files.isEmpty) return fallback
    val cachedBySpec = manifestVerdictsAll(table,
      specs.map { case (cn, u, _) => (cn, u) })
    // the partition tier runs FIRST: a spec whose column is a hive
    // PARTITION column of a file resolves from the directory name alone —
    // partition columns carry no footer statistics, so without this tier
    // they would cost a (useless, code-0) footer open per file and never
    // prune. Files a partition-derived verdict proves disjoint drop
    // before the footer stage, so on a partitioned table the data-column
    // conjuncts pay footer opens only inside the SURVIVING directories
    // (prune dirs by partition value, then files by footer).
    val partValsByRel: Map[String, Map[String, String]] =
      files.iterator.map(v => v._1 -> TableStore.hivePartitionValues(v._1)).toMap
    def keepsBy(keepVerdict: ((Int, String, String)) => Boolean)(
        v: (Int, String, String)): Boolean =
      try keepVerdict(v)
      catch { case scala.util.control.NonFatal(_) => true } // undecodable → scan
    val survivors = files.filter { v =>
      specs.forall { case (cn, u, keepVerdict) =>
        TableStore.partitionVerdict(partValsByRel(v._1), cn, u)
          .forall(keepsBy(keepVerdict))
      }
    }
    if (survivors.isEmpty) return emptyResult(table)
    // a surviving file missing ANY spec's partition-derived or cached
    // entry is read live — once, for every spec, via the multi-column
    // canonical reader
    val missing = survivors.filter { v =>
      specs.exists { case (cn, u, _) =>
        TableStore.partitionVerdict(partValsByRel(v._1), cn, u).isEmpty &&
          !cachedBySpec((cn, TableStore.unitTag(u))).contains((v._1, v._2, v._3))
      }
    }
    val specs0 = specs.map { case (cn, u, _) => (cn, u) }
    // keyed by the CONSTRUCTED Path's toString — the same normalized
    // form footerScanVerdicts echoes back, so a non-canonical root
    // (trailing slash) can't silently break the mapping
    val missPairs = missing.map(v =>
      (new Path(tablePath(table) + "/" + v._1), v._1))
    val relByPath = missPairs.map { case (p, rel) => p.toString -> rel }.toMap
    val freshByRel: Map[String, Map[(String, String), (Int, String, String)]] =
      footerScanVerdicts(missPairs.map(_._1),
        (p, c) => TableStore.footerStatsCanonicalMulti(p, c, specs0))
        .flatMap { case (pstr, perCol) =>
          relByPath.get(pstr).map(rel =>
            rel -> perCol.map { case (cn, tag, v) => (cn, tag) -> v }.toMap)
        }.toMap
    if (freshByRel.size != missing.size) return fallback // mapping surprise
    var keepRels: Set[String] = null
    for ((cn, u, keepVerdict) <- specs) {
      val tag = TableStore.unitTag(u)
      val cached = cachedBySpec((cn, tag))
      val kept = survivors.filter { v =>
        TableStore.partitionVerdict(partValsByRel(v._1), cn, u)
          .orElse(cached.get((v._1, v._2, v._3)))
          .orElse(freshByRel.get(v._1).flatMap(_.get((cn, tag))))
          .forall(keepsBy(keepVerdict)) // absent verdict → conservative keep
      }.map(_._1).toSet
      keepRels = if (keepRels == null) kept else keepRels.intersect(kept)
      if (keepRels.isEmpty) return emptyResult(table)
    }
    if (keepRels == null || keepRels.size == files.size) return fallback
    // ONE copy of the "partial read serves the evolved declared schema"
    // invariant — shared with the merge/rewrite paths
    readFilesUnder(table, keepRels.toSeq).filter(rowFilter)
  }

  // -------------------------------------------------------------------
  // Stats manifest: a sidecar cache of canonical per-file verdicts for
  // DECLARED columns, so the pruned reads' footer pass is O(new tail)
  // instead of O(#files) per query. Strictly advisory — entries validate
  // against (rel, len, mtime) and anything else is a live read, so a
  // missing, stale, or torn manifest can only cost time, never rows.
  // Deliberately NOT a `_graft_*` prop: props are carried byte-for-byte
  // across atomic swaps, and a rewrite invalidates the summarized files
  // — dropping the manifest at the swap (and rebuilding on the next
  // compaction cadence) is the correct lifecycle.
  // -------------------------------------------------------------------

  private val StatsManifest = "_stats_manifest"
  private val StatsColsProp = "stats_cols"

  /** Declare the columns whose footer statistics the manifest maintains
    * (units inferred from the table schema — integral, timestamp, date
    * and string columns are supported), persist the declaration as a
    * table prop (it survives swaps), and build the first manifest.
    * `refresh = false` records the declaration only — for callers about
    * to run a maintenance pass that rebuilds the manifest anyway
    * (undeclared-until-then files simply read live).
    */
  def declareStatsColumns(table: String, columns: Seq[String],
                          refresh: Boolean = true): Unit = {
    import org.apache.spark.sql.types._
    val schema = read(table).schema
    val specs = columns.map { c =>
      // resolve case-insensitively but RECORD the schema's exact name:
      // the parquet footer lookup is case-sensitive, and a mis-cased
      // declaration would cache permanent code-0 verdicts with no error
      val field = schema.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"declareStatsColumns: no column '$c' in $table"))
      val unit = field.dataType match {
        case LongType | IntegerType | ShortType | ByteType => TableStore.IntegralUnit
        case TimestampType => TableStore.TimestampMicrosUnit
        case DateType      => TableStore.DateDaysUnit
        case StringType    => TableStore.Utf8Unit
        case other => throw new IllegalArgumentException(
          s"declareStatsColumns: unsupported type for '$c': $other")
      }
      field.name -> unit
    }
    setTableProp(table, StatsColsProp,
      specs.map { case (c, u) => s"$c:${TableStore.unitTag(u)}" }.mkString(","))
    if (refresh) refreshStatsManifest(table)
  }

  private def declaredStatsSpecs(table: String): Seq[(String, TableStore.StatsUnit)] =
    getTableProp(table, StatsColsProp).toSeq
      .flatMap(_.split(",").toSeq).flatMap { e =>
        e.split(":", 2) match {
          case Array(c, t) => TableStore.unitOfTag(t).map(c -> _)
          case _           => None
        }
      }

  /** Rebuild the manifest for every declared column over the CURRENT
    * file set and publish it with a tmp-write + rename. No-op without a
    * declaration. INCREMENTAL: entries for files whose (rel, len, mtime)
    * identity is unchanged carry over without re-reading their footers,
    * so a refresh costs O(files changed since the last one) — cheap
    * enough that [[compactIncremental]] runs it on EVERY cadence,
    * including no-op passes (a declaration must not wait for the next
    * real compaction to take effect). New files pay ONE footer open for
    * all declared columns. ADVISORY end to end: any failure is logged
    * and swallowed — a maintenance cadence or streaming trigger must
    * never die for a cache, and the worst outcome is live footer reads.
    */
  def refreshStatsManifest(table: String): Unit =
    try refreshStatsManifestUnsafe(table)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(
        s"[graft] stats-manifest refresh skipped for $table: ${e.getMessage}")
    }

  private def refreshStatsManifestUnsafe(table: String): Unit = {
    val specs = declaredStatsSpecs(table)
    if (specs.isEmpty || !exists(table)) return
    val files = listVisibleFilesMeta(table)
      .filter(v => v._1.endsWith(".parquet") && v._2 > 0)
    val cachedBySpec = specs.map { case (cn, u) =>
      (cn, u) -> manifestVerdicts(table, cn, u)
    }.toMap
    // a file missing ANY spec's entry is recomputed for ALL specs from
    // one footer open; fully-covered files carry over untouched
    val missing = files.filter { v =>
      specs.exists { case (cn, u) =>
        !cachedBySpec((cn, u)).contains((v._1, v._2, v._3))
      }
    }
    val specs0 = specs
    val missPairs = missing.map(v =>
      (new Path(tablePath(table) + "/" + v._1), v._1))
    val fresh: Map[String, Seq[(String, String, (Int, String, String))]] =
      footerScanVerdicts(missPairs.map(_._1),
        (p, c) => TableStore.footerStatsCanonicalMulti(p, c, specs0)).toMap
    val sb = new StringBuilder("v1\n")
    for ((rel, len, mtime) <- files) {
      fresh.get(new Path(tablePath(table) + "/" + rel).toString) match {
        case Some(perCol) =>
          for ((cn, tag, (code, mn, mx)) <- perCol)
            sb.append(s"$rel\t$len\t$mtime\t$cn\t$tag\t$code\t$mn\t$mx\n")
        case None =>
          for ((cn, u) <- specs) {
            val (code, mn, mx) = cachedBySpec((cn, u))((rel, len, mtime))
            sb.append(s"$rel\t$len\t$mtime\t$cn\t${TableStore.unitTag(u)}\t$code\t$mn\t$mx\n")
          }
      }
    }
    val f = fs
    val tmp = new Path(tablePath(table), s".manifest-tmp-${System.nanoTime()}")
    val dest = new Path(tablePath(table), StatsManifest)
    try {
      val out = f.create(tmp, true)
      try out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      f.delete(dest, false)
      if (!f.rename(tmp, dest)) { f.delete(tmp, false); () }
    } catch { case e: Throwable =>
      // never strand a tmp file in the table dir on a failed publish
      try { f.delete(tmp, false); () }
      catch { case scala.util.control.NonFatal(_) => () }
      throw e
    }
  }

  /** Validated manifest entries for (column, unit): key (rel, len, mtime)
    * → canonical verdict. Empty on any read/parse trouble — the caller
    * falls back to live footers file-by-file.
    */
  private def manifestVerdicts(table: String, column: String,
      unit: TableStore.StatsUnit): Map[(String, Long, Long), (Int, String, String)] =
    manifestVerdictsAll(table, Seq(column -> unit))((column, TableStore.unitTag(unit)))

  /** As [[manifestVerdicts]] for several specs from ONE sidecar read and
    * parse: (column, tag) → entry map (every requested spec present,
    * possibly empty). A k-conjunct read must not re-read the sidecar k
    * times.
    */
  private def manifestVerdictsAll(table: String,
      specs: Seq[(String, TableStore.StatsUnit)])
      : Map[(String, String), Map[(String, Long, Long), (Int, String, String)]] = {
    val wanted = specs.map { case (cn, u) => (cn, TableStore.unitTag(u)) }
    val empty = wanted.map(_ -> Map.empty[(String, Long, Long), (Int, String, String)]).toMap
    try {
      val text = Sidecar.read(new Path(tablePath(table), StatsManifest),
        spark.sparkContext.hadoopConfiguration).getOrElse(return empty)
      val lines = text.linesIterator.toSeq
      if (!lines.headOption.contains("v1")) return empty
      val wantedSet = wanted.toSet
      val parsed = lines.drop(1).flatMap { l =>
        l.split("\t", -1) match {
          case Array(rel, len, mtime, cn, t, code, mn, mx)
            if wantedSet.contains((cn, t)) =>
            Some((cn, t) -> ((rel, len.toLong, mtime.toLong) -> ((code.toInt, mn, mx))))
          case _ => None
        }
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toMap }
      empty ++ parsed
    } catch { case scala.util.control.NonFatal(_) => empty }
  }

  /** Shared two-tier footer fan-out for the stats-pruned reads: driver
    * pool below [[TableStore.ExecutorFooterThreshold]] files, one
    * executor-side job above it. `perFile` must not capture `this` (the
    * executor tier ships it in a task closure) — the callers pass
    * lambdas over the static verdict functions.
    */
  private def footerScanVerdicts[T: scala.reflect.ClassTag](
      files: Seq[Path],
      perFile: (Path, org.apache.hadoop.conf.Configuration) => T)
      : Seq[(String, T)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (files.length <= TableStore.ExecutorFooterThreshold) {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[(String, T)]] =
        files.map(p => () => p.toString -> perFile(p, conf))
      TableStore.footerPool.invokeAll(tasks.asJava).asScala.toSeq.map(_.get())
    } else {
      val confMap = serializableHadoopConf
      val fn = perFile
      val paths = files.map(_.toString)
      spark.sparkContext
        .parallelize(paths, math.min(256, 1 + paths.length / 256))
        .mapPartitions { it =>
          val c = new org.apache.hadoop.conf.Configuration(false)
          confMap.foreach { case (k, v) => c.set(k, v) }
          it.map(p => p -> fn(new Path(p), c))
        }.collect().toSeq
    }
  }

  /** Full-rewrite compaction: rewrite the WHOLE table into `targetFiles`
    * parquet files TOTAL — with `partitionCols`, the hash distribution
    * puts ≈1 file per partition directory when `targetFiles` is at least
    * the live partition count, not `targetFiles` per directory. Uses the
    * same atomic swap as the CRUD rewrites.
    *
    * This is the O(table) maintenance pass — right for one-shot layout
    * resets (post-backfill, changing file sizing wholesale). A streamed
    * ingest cadence must use [[compactIncremental]] instead: calling
    * this every N batches costs O(corpus) per pass and O(N²/n) over a
    * stream's lifetime.
    */
  def compact(table: String, targetFiles: Int = 1,
              partitionCols: Seq[String] = Nil): Unit = {
    val df = read(table)
    val compacted =
      if (partitionCols.isEmpty) df.coalesce(targetFiles)
      else df.repartition(targetFiles, partitionCols.map(col): _*)
    overwriteAtomic(table, compacted, partitionCols)
  }

  /** Incremental bin-packing compaction: rewrite ONLY files smaller than
    * `smallThreshold` into ~`targetBytes` files; every already-compacted
    * (≥ threshold) file is carried across by a metadata-only rename —
    * zero data I/O for data that was compacted before. This is the
    * maintenance path a monotonically growing ingest table needs: the
    * full-rewrite [[compact]] costs O(corpus) per pass (O(N²/n) over a
    * stream's lifetime), while this pass costs O(new tail) — each byte is
    * rewritten at most O(smallThreshold / batch-size) times total before
    * its file crosses the threshold and is never touched again,
    * independent of corpus size.
    *
    * Commit discipline is the [[overwriteAtomic]] two-rename swap, with
    * the kept files moved (not copied) into the staged directory inside
    * the swap window: packed replacements are fully written to `.tmp-*`
    * while the table is still live, then dest→old, kept files old→tmp
    * (renames), tmp→dest. A crash before dest→old leaves the table
    * fully-old; after tmp→dest, fully-new; inside the window the table
    * path is transiently absent (exactly like [[overwriteAtomic]] — the
    * single-writer contract) and every byte remains recoverable in the
    * `.old-*`/`.tmp-*` siblings, since renames never destroy data.
    *
    * Partitioned tables: small files are read with `basePath` so hive
    * partition values survive, and the packed subset is hash-distributed
    * on the partition columns — each pass writes ≈1 packed file per
    * affected partition directory, so per-directory file counts stay
    * O(dir bytes / smallThreshold). A visible non-parquet foreign file is
    * never packed (it can't be read as parquet) and is carried across
    * like a compacted file.
    *
    * No-op (returns 0 packed, touches nothing) when fewer than two small
    * parquet files exist — so a second pass over an already-packed table
    * rewrites zero bytes (pinned by `CompactionSpec`).
    *
    * `sortCols` (r12): cluster the PACKED OUTPUT while packing. A
    * sorted/Z-ordered table degrades as appends accumulate — each new
    * tail file spans the whole key range, so the stats-pruned reads
    * stop skipping the tail. Passing the clustering key makes the
    * cadence re-establish tight per-file [min, max] bands for free (the
    * tail is being rewritten anyway — sorting it costs one extra
    * exchange over ONLY the tail bytes): unpartitioned tables
    * range-repartition + sort the packed subset, partitioned tables
    * keep the ≈1-file-per-directory hash distribution and sort within
    * each output task. Already-compacted files are untouched either
    * way; this is the incremental-maintenance analogue of the IVF
    * index's `ivfCompact`.
    */
  def compactIncremental(table: String,
                         smallThreshold: Long = 32L * 1024 * 1024,
                         targetBytes: Long = 128L * 1024 * 1024,
                         partitionCols: Seq[String] = Nil,
                         sortCols: Seq[String] = Nil): CompactStats = {
    if (!exists(table)) return CompactStats(0, 0L, 0)
    val visible = listVisibleFiles(table)
    val (small, kept) = visible.partition { case (rel, len) =>
      rel.endsWith(".parquet") && len < smallThreshold
    }
    if (small.size < 2) {
      // no-op pass, but the cadence contract still holds: the manifest
      // covers the current file set (incremental — costs only the files
      // added since the last refresh, so an all-compacted table pays a
      // listing and a sidecar rewrite, not a footer pass)
      refreshStatsManifest(table)
      return CompactStats(0, 0L, 0)
    }

    val smallBytes = small.map(_._2).sum
    val smallPaths = small.map { case (rel, _) => s"${tablePath(table)}/$rel" }
    // basePath keeps hive partition columns in the projected rows; an
    // evolved table packs under its DECLARED schema, so the packed
    // output materializes the evolved columns (as nulls for
    // pre-evolution rows) and the file set converges on one shape
    val smallReader = spark.read.option("basePath", tablePath(table))
    evolvedDdl(table).foreach(ddl =>
      smallReader.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl)))
    val packedSrc = smallReader.parquet(smallPaths: _*)
    val n = math.max(1L, (smallBytes + targetBytes - 1) / targetBytes)
      .min(Int.MaxValue.toLong).toInt
    val sc = sortCols.map(col)
    val packed =
      if (partitionCols.isEmpty) {
        if (sc.isEmpty) packedSrc.coalesce(n)
        else packedSrc.repartitionByRange(n, sc: _*).sortWithinPartitions(sc: _*)
      } else {
        val dist = packedSrc.repartition(n, partitionCols.map(col): _*)
        if (sc.isEmpty) dist else dist.sortWithinPartitions(sc: _*)
      }
    stageAndSwapWithKept(table, packed, kept.map(_._1), partitionCols)
    // the swap drops the (file-identity-keyed) stats manifest by design;
    // compaction is the cadence that reshapes the file set, so it is
    // also the cadence that rebuilds the manifest — no-op undeclared
    refreshStatsManifest(table)
    CompactStats(small.size, smallBytes, kept.size)
  }

  /** Shared commit for the partial-rewrite paths ([[compactIncremental]],
    * the file-pruned CRUD rewrite): stage `df` as the table's NEW content
    * in a `.tmp-*` sibling while the table stays live, then commit with
    * the two-rename swap, carrying every `keptRels` file across by a
    * metadata-only rename inside the window — zero data I/O for
    * carried-over bytes, and the table-level all-or-nothing contract of
    * [[overwriteAtomic]] (fully-old before the window, fully-new after;
    * transiently absent inside it; every byte recoverable from the
    * `.old-*`/`.tmp-*` siblings on a mid-window crash).
    */
  private def stageAndSwapWithKept(table: String, df: DataFrame,
                                   keptRels: Seq[String],
                                   partitionCols: Seq[String]): Unit = {
    // the single-writer gate: EVERY swap path (overwrite, compaction,
    // pruned CRUD, merge) funnels through here, so one check covers all
    checkNoForeignLease(table, "atomic swap")
    val f = fs
    val dest = new Path(tablePath(table))
    val tmp = new Path(tablePath(table) + s".tmp-${System.nanoTime()}")
    val old = new Path(tablePath(table) + s".old-${System.nanoTime()}")
    // empty partitioned writes produce no files (schema lost) — same
    // fallback as overwriteAtomic, but ONLY when nothing is carried over:
    // with kept directories the table stays readable from them, and a
    // root-level marker file next to hive dirs would break partition
    // discovery
    val effectiveParts =
      if (partitionCols.nonEmpty && keptRels.isEmpty && df.isEmpty) Nil
      else partitionCols
    val props = allTableProps(table) // survive the swap
    df.write.mode("overwrite").partitionBy(effectiveParts: _*)
      .parquet(tmp.toString) // forces execution while dest is still live
    props.foreach { case (k, v) => writePropFile(new Path(tmp, s"_graft_$k"), v) }
    // carry the swap-runner's OWN lease into the staged dir (a foreign
    // one was refused above) so writer protection is continuous across
    // the swap instead of lapsing until the holder's next renewal —
    // crc-free like every lease write (see writeLeaseRecordRaw)
    Sidecar.read(leasePath(table), spark.sparkContext.hadoopConfiguration)
      .foreach(t => writeLeaseRecordRaw(new Path(tmp, WriterLease), t))
    // staged/kept collision guard: if the staged write produced a path a
    // kept rel would later be renamed onto (e.g. a rendering-class bug
    // mapping an affected partition to the wrong directory name), the
    // kept rename would nest one directory inside the other — silent
    // duplication. Abort BEFORE the window opens: the table is untouched
    // and the statement re-runnable. One listing of tmp (staged output
    // only), not one exists() per kept file.
    if (keptRels.nonEmpty) {
      val stagedRels = listVisibleFilesAt(tmp).map(_._1)
      val collide = keptRels.find(k =>
        stagedRels.exists(r => r == k || r.startsWith(k + "/")))
      collide.foreach { k =>
        f.delete(tmp, true)
        throw new IllegalStateException(
          s"staged write for $table produced '$k', which a kept file " +
            "would replace — aborting before the swap (table untouched)")
      }
    }
    // staging complete: the manifest names every file recovery must find
    // either moved into tmp (→ roll forward) or still in old (→ roll back)
    writeSwapMarkers(tmp, keptRels)
    failpoint("tmp-written")
    if (!f.rename(dest, old))
      throw new java.io.IOException(s"partial-rewrite swap failed for $table")
    failpoint("old-aside")
    // carry untouched files/dirs across: O(1) metadata renames, no I/O.
    // Staged part files carry a fresh job UUID, so names cannot collide.
    // A rename FAILURE (not a crash) rolls everything back so the table
    // stays readable and the statement re-runnable — only a hard crash
    // inside the window needs sibling recovery.
    val movedKept = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      for (rel <- keptRels) {
        val src = new Path(old, rel)
        val dst = new Path(tmp, rel)
        val parent = dst.getParent
        if (!f.exists(parent)) f.mkdirs(parent)
        if (!f.rename(src, dst))
          throw new java.io.IOException(s"keep-rename failed: $table/$rel")
        movedKept += rel
      }
    } catch {
      case e: Throwable =>
        for (rel <- movedKept.reverse)
          f.rename(new Path(tmp, rel), new Path(old, rel))
        f.rename(old, dest)
        throw e
    }
    failpoint("kept-moved")
    if (!f.rename(tmp, dest)) {
      // best-effort rollback: return kept files, restore the old dir
      for (rel <- keptRels) f.rename(new Path(tmp, rel), new Path(old, rel))
      f.rename(old, dest)
      throw new java.io.IOException(s"partial-rewrite swap failed for $table")
    }
    failpoint("swapped")
    f.delete(old, true)
    deleteSwapMarkers(dest)
    invalidateListing(table)
    invalidateSchema(table)
  }

  // -------------------------------------------------------------------
  // Crashed-swap recovery: the hidden `_swap_staged` marker and
  // `_swap_kept` manifest written into the staged dir (last step of
  // staging, before the window opens) make every crash state decidable.
  // Both names are `_`-prefixed — invisible to reads, footer statistics,
  // and sizeInBytes — and deliberately NOT `_graft_`-prefixed, so the
  // table-props machinery never mistakes them for layout metadata.
  // -------------------------------------------------------------------

  private val StagedMarker = "_swap_staged"
  private val KeptManifest = "_swap_kept"

  private def writeSwapMarkers(tmp: Path, keptRels: Seq[String]): Unit = {
    writePropFile(new Path(tmp, KeptManifest), keptRels.mkString("\n"))
    writePropFile(new Path(tmp, StagedMarker), "1")
  }

  private def deleteSwapMarkers(dir: Path): Unit = {
    val f = fs
    f.delete(new Path(dir, StagedMarker), false)
    f.delete(new Path(dir, KeptManifest), false)
  }

  private def stagedComplete(tmp: Path): Boolean =
    fs.exists(new Path(tmp, StagedMarker))

  private def keptManifest(tmp: Path): Seq[String] =
    Sidecar.read(new Path(tmp, KeptManifest),
        spark.sparkContext.hadoopConfiguration)
      .map(_.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)

  /** Automated recovery from a crashed atomic swap (any commit path:
    * [[overwriteAtomic]], compaction, file-/partition-pruned CRUD).
    * Inspects the table's `.old-*`/`.tmp-*` siblings, restores a
    * consistent FULLY-OLD or FULLY-NEW table, and deletes the debris —
    * the file-engine replacement for the reference's transactional
    * rollback (Postgres rolls back on error, base.py:19-22). Run it at
    * startup or before destructive maintenance ([[Audit.gcOrphanBlobs]]
    * refuses until it has run). Idempotent: a crash DURING recovery
    * leaves a state a re-run recognizes.
    *
    * Decision table — sound because the table path only ever comes into
    * existence via a whole-directory rename, so a live path is complete:
    *  - path live → every sibling is stale (pre-window staging, or a
    *    post-commit `.old-*` whose delete didn't finish): drop them.
    *  - path absent, staged dir lacks `_swap_staged` → the crash predates
    *    the marker, so no kept file was ever moved (moves start only
    *    after staging completes): restore `.old-*` wholesale.
    *  - path absent, staged complete, every `_swap_kept` manifest entry
    *    present in the staged dir → it IS the complete new table: commit
    *    it, drop `.old-*` (which now holds only superseded bytes).
    *  - path absent, manifest entries still (partly) in `.old-*` →
    *    return the moved ones, restore `.old-*`.
    * Any other state (two siblings of a kind, a manifest entry in
    * neither dir) is not one a crash of this protocol can produce —
    * refuse loudly rather than guess at someone else's debris.
    */
  /** Drop a NOT-LIVE `_writer_lease` record from a directory recovery
    * just materialized. Swap staging copies the writer's lease into the
    * staged dir, so both roll-forward (committing `.tmp-*`) and
    * roll-back (restoring `.old-*`) rematerialize the CRASHED writer's
    * record in-dir — and an expired record reappearing there would let
    * a later acquirer see "only an expired lease" while the RECOVERING
    * creator's pre-table lease is still live (acquisition now reads the
    * pre file unconditionally, [[leaseCandidates]]; this scrub closes
    * the same hole from the other end so the stale record never
    * reappears at all). A LIVE record is kept: recovery only runs after
    * [[checkNoForeignLease]], so a live record here can only be this
    * writer's own — or a foreign renewal racing under clock skew, which
    * must win conservatively. Torn/unparseable bytes are debris and go.
    */
  private def scrubRestoredLease(dest: Path): Unit = {
    val p = new Path(dest, WriterLease)
    val rec = Sidecar.read(p, spark.sparkContext.hadoopConfiguration)
    if (rec.isEmpty) return // no file — nothing to scrub
    val live = rec.flatMap(parseLease)
      .exists(_._2 > System.currentTimeMillis())
    if (!live) { try fs.delete(p, false) catch { case _: java.io.IOException => () }; () }
  }

  def recoverSwapDebris(table: String): SwapRecovery = {
    // a live FOREIGN lease means this "debris" may be a live writer's
    // in-flight swap — healing it would yank a directory out from under
    // the owner mid-commit. Refuse; the owner heals its own tables, and
    // an expired lease (crashed owner) recovers normally. The lookup
    // covers the swap siblings: mid-window the lease rides inside them.
    checkNoForeignLease(table, "swap recovery")
    invalidateListing(table) // any outcome below may reshape the file set
    invalidateSchema(table)
    val f = fs
    val parent = new Path(root)
    val dest = new Path(tablePath(table))
    if (!f.exists(parent)) return SwapRecovery.NoDebris
    val sibs = f.listStatus(parent).map(_.getPath.getName).toSeq
    val olds = sibs.filter(TableStore.isSwapSibling(_, table, "old"))
    val tmps = sibs.filter(TableStore.isSwapSibling(_, table, "tmp"))
    if (olds.isEmpty && tmps.isEmpty) {
      // a crash between recovery's commit rename and its marker delete
      // can leave the markers inside the live table with no siblings at
      // all — sweep them so they never outlive their swap
      if (f.exists(dest)) deleteSwapMarkers(dest)
      return SwapRecovery.NoDebris
    }
    if (f.exists(dest)) {
      (olds ++ tmps).foreach(n => f.delete(new Path(parent, n), true))
      deleteSwapMarkers(dest)
      return SwapRecovery.CleanedUp
    }
    if (olds.size > 1 || tmps.size > 1)
      throw new IllegalStateException(
        s"table $table is absent with multiple same-kind swap siblings " +
          s"(${(olds ++ tmps).mkString(", ")}) — one crashed swap cannot " +
          "produce this; refusing to guess which holds the live data")
    (olds.headOption.map(new Path(parent, _)),
     tmps.headOption.map(new Path(parent, _))) match {
      case (None, None) =>
        // unreachable: the both-empty case returned NoDebris above —
        // spelled out so the match is provably exhaustive
        throw new IllegalStateException(
          s"table $table: sibling scan raced the empty-guard")
      case (Some(_), None) =>
        // the staged dir outlives the window on every protocol path, and
        // kept files may have been moved OUT of .old-* into it — restoring
        // .old-* alone could silently serve a partial table
        throw new IllegalStateException(
          s"table $table is absent with an .old-* sibling but no .tmp-* — " +
            "not a state the commit protocol produces; resolve by hand")
      case (None, Some(tmp)) =>
        // first-ever write of the table (no old existed), crashed before
        // its commit rename
        val pending = keptManifest(tmp).filterNot(r => f.exists(new Path(tmp, r)))
        if (stagedComplete(tmp) && pending.isEmpty) {
          // commit FIRST, then drop the markers from the now-live dest
          // (the normal commit path's own order): deleting the marker
          // while the data still sits in .tmp-* would make a crash here
          // unrecognizable — the re-run would read "incomplete staging"
          // and delete the complete new table
          if (!f.rename(tmp, dest))
            throw new java.io.IOException(s"recovery commit failed for $table")
          failpoint("recovery-committed")
          deleteSwapMarkers(dest)
          scrubRestoredLease(dest)
          SwapRecovery.RolledForward
        } else if (!stagedComplete(tmp)) {
          f.delete(tmp, true) // incomplete staging of a never-extant table
          SwapRecovery.CleanedUp
        } else throw new IllegalStateException(
          s"table $table: staged dir claims kept files (${pending.take(5)
            .mkString(", ")}) but no .old-* sibling holds them")
      case (Some(old), Some(tmp)) =>
        if (!stagedComplete(tmp)) {
          if (!f.rename(old, dest))
            throw new java.io.IOException(s"recovery restore failed for $table")
          f.delete(tmp, true)
          scrubRestoredLease(dest)
          SwapRecovery.RolledBack
        } else {
          val manifest = keptManifest(tmp)
          val (moved, pending) = manifest.partition(r => f.exists(new Path(tmp, r)))
          if (pending.isEmpty) {
            // commit FIRST (see the sibling-less branch): dropping the
            // marker pre-rename would leave old+tmp with no marker, and
            // the re-run's !stagedComplete branch would restore an
            // .old-* that is MISSING its kept files — a partial table
            if (!f.rename(tmp, dest))
              throw new java.io.IOException(s"recovery commit failed for $table")
            failpoint("recovery-committed")
            deleteSwapMarkers(dest)
            f.delete(old, true)
            scrubRestoredLease(dest)
            SwapRecovery.RolledForward
          } else if (pending.forall(r => f.exists(new Path(old, r)))) {
            for (rel <- moved) {
              val dst = new Path(old, rel)
              val p = dst.getParent
              if (!f.exists(p)) f.mkdirs(p)
              if (!f.rename(new Path(tmp, rel), dst))
                throw new java.io.IOException(
                  s"recovery kept-return failed: $table/$rel")
            }
            if (!f.rename(old, dest))
              throw new java.io.IOException(s"recovery restore failed for $table")
            f.delete(tmp, true)
            scrubRestoredLease(dest)
            SwapRecovery.RolledBack
          } else throw new IllegalStateException(
            s"table $table: manifest file(s) present in neither sibling: " +
              pending.filterNot(r => f.exists(new Path(old, r)))
                .take(5).mkString(", "))
        }
    }
  }

  /** [[recoverSwapDebris]] for every table with debris under the store
    * root — the "run at startup" form: one directory listing discovers
    * the protocol's `.old-<nanos>`/`.tmp-<nanos>` siblings (ONLY that
    * exact shape — an operator's `documents.old-backup` copy is not ours
    * to touch), their table names derive from the sibling names, and
    * each table recovers independently. EVERY table is attempted even if
    * one refuses: partial healing first, then ONE combined error naming
    * the refusers (first refusal attached as the cause, the rest
    * suppressed) — a foreign-debris refusal on one table must not
    * strand recoverable bytes on the others. No-debris stores pay one
    * listing.
    *
    * @return recovery outcome per affected table (empty = clean store)
    */
  def recoverAllSwapDebris(): Map[String, SwapRecovery] =
    recoverSwapDebrisScoped(None)

  /** [[recoverAllSwapDebris]] restricted to `only` — a writer's own
    * tables (the ingest pipeline's pre-write auto-heal). Same single
    * root listing; sibling-derived tables outside the set are left for
    * their own writers. A table whose only residue is leaked markers
    * inside a LIVE dir (possible after a recovery crash on the
    * first-ever-write path) has no siblings to discover here; the
    * harmless, reader-invisible markers are swept by the next direct
    * [[recoverSwapDebris]] of that table.
    */
  def recoverSwapDebrisScoped(only: Option[Set[String]]): Map[String, SwapRecovery] = {
    val parent = new Path(root)
    if (!fs.exists(parent)) return Map.empty
    val pat = "(.+)\\.(?:old|tmp)-\\d+".r
    val affected = fs.listStatus(parent).map(_.getPath.getName).toSeq
      .collect { case pat(table) => table }.distinct.sorted
      .filter(t => only.forall(_.contains(t)))
    val outcomes = Map.newBuilder[String, SwapRecovery]
    val refused = Seq.newBuilder[(String, Throwable)]
    for (t <- affected)
      try outcomes += t -> recoverSwapDebris(t)
      catch {
        case e: IllegalStateException => refused += t -> e
        case e: java.io.IOException   => refused += t -> e
      }
    val bad = refused.result()
    if (bad.nonEmpty) {
      // keep the originating exceptions: cause for the first, suppressed
      // for the rest — a transient IOException must stay distinguishable
      // from a permanent protocol refusal for retrying callers
      val ex = new IllegalStateException(
        s"swap recovery refused for ${bad.size} table(s) (the rest were " +
          s"healed): ${bad.map { case (t, e) => s"$t: ${e.getMessage}" }.mkString("; ")}",
        bad.head._2)
      bad.tail.foreach { case (_, e) => ex.addSuppressed(e) }
      throw ex
    }
    outcomes.result()
  }

  // -------------------------------------------------------------------
  // Best-effort single-writer lease: an epoch-stamped `_writer_lease`
  // sidecar inside the table dir. The storage layer's crash story is
  // complete (atomic swaps + recovery), but its concurrency contract was
  // only documentation — two writers interleaving swaps would corrupt
  // silently, and startup recovery would happily "heal" a LIVE writer's
  // in-flight swap. The lease makes both refuse loudly: every swap and
  // every recovery checks for a live FOREIGN lease first, and the ingest
  // acquires + renews per batch (Postgres gave the reference this for
  // free via connection-level locking, db.py:24-33). Acquisition is
  // ATOMIC cross-process on filesystems with an atomic exclusive create
  // (local O_EXCL, HDFS namenode create): fresh grabs create-exclusive,
  // expired takeovers retire-by-rename then create-exclusive, renewals
  // rename-replace, and every winner re-verifies its own record — see
  // acquireWriterLease. On object stores without atomic create the
  // re-verify narrows (not closes) the race window — documented
  // best-effort there, it is not a distributed lock manager. Clock skew
  // between writers eats into the TTL margin; size the TTL
  // (spark.graft.writerLeaseTtlMs) well above both skew and the
  // longest batch.
  // -------------------------------------------------------------------

  private val WriterLease = "_writer_lease"

  /** Serializes THIS instance's lease file operations: a stream's async
    * termination-listener release (bus thread) must not interleave with
    * the successor query's acquire (batch thread) mid-create — observed
    * as a chmod-after-create failure on the local filesystem. Cross-JVM
    * interleavings remain best-effort as documented above.
    */
  private val leaseLock = new Object

  /** This store instance's writer identity — the lease owner id. Two
    * components sharing one TableStore instance (the demo wiring: ingest
    * + serving over the same store) share the identity and never refuse
    * each other; separate instances are separate writers.
    */
  val writerId: String = java.util.UUID.randomUUID().toString

  private def leaseTtlMs: Long =
    spark.conf.get("spark.graft.writerLeaseTtlMs", "60000").toLong

  private def leasePath(table: String) = new Path(tablePath(table), WriterLease)

  private def parseLease(text: String): Option[(String, Long)] =
    text.split("\t", -1) match {
      case Array("v1", owner, exp) =>
        scala.util.Try(exp.toLong).toOption.map(owner -> _)
      case _ => None
    }

  /** Home of a PRE-TABLE lease: a table that does not exist yet has no
    * directory to carry `_writer_lease`, but its creating writer still
    * needs fencing — two streams started concurrently on a fresh table
    * would otherwise both pass the gate and interleave the CREATING
    * swaps. The hidden root-level dir holds one file per table name;
    * underscore-prefixed so data readers ignore it, and shaped to match
    * no swap-sibling pattern so recovery's root listings skip it. Once
    * the table materializes, the holder's next renewal writes the
    * canonical in-dir lease and retires this file.
    */
  private val PreLeaseDir = "_graft_pre_leases"
  private def preLeasePath(table: String) =
    new Path(new Path(root, PreLeaseDir), table)

  /** Every readable lease record governing `table`, with the path it
    * lives at: the in-dir lease when the table exists, the swap-sibling
    * leases when it is mid-swap absent (a crash leaves the lease inside
    * `.old-*`/`.tmp-*` — exactly the state recovery must not touch while
    * its owner lives), and the pre-table file either way.
    *
    * `readPreAlways` splits the callers into two tiers. WRITE-GUARD
    * callers (acquisition, [[checkNoForeignLease]]) pass true: the
    * pre-table file is read UNCONDITIONALLY, because "an in-dir lease is
    * only written after any live pre lease was refused or migrated" is
    * not an invariant recovery preserves — [[recoverSwapDebris]] can
    * rematerialize a table whose directory carries a crashed writer's
    * EXPIRED in-dir record while the RECOVERING creator's pre-table
    * lease is still live; skipping the pre read there would let a third
    * writer retire the expired record and win against the live holder.
    * Read-only POLLERS ([[currentLease]] → [[tableReport]]) pass false
    * and keep the steady-state one-RPC skip: a report that misses a
    * just-recovered table's pre lease for one poll is harmless.
    */
  private def leaseCandidates(table: String,
                              readPreAlways: Boolean): Seq[(Path, String, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def at(p: Path): Seq[(Path, String, Long)] =
      Sidecar.read(p, conf).flatMap(parseLease).toSeq
        .map { case (o, e) => (p, o, e) }
    val f = fs
    val tableExists = f.exists(new Path(tablePath(table)))
    val primary =
      if (tableExists) at(leasePath(table))
      else {
        val parent = new Path(root)
        if (!f.exists(parent)) Nil
        else f.listStatus(parent).map(_.getPath).toSeq
          .filter(p => TableStore.isSwapSibling(p.getName, table))
          .flatMap(d => at(new Path(d, WriterLease)))
      }
    // with the table PRESENT and an in-dir record parsed, a POLLING
    // caller skips the pre-table read — in the steady state the pre file
    // is at most expired leftover, and the skip spares every report poll
    // one filesystem round trip. Write-guard callers never skip (see the
    // scaladoc above); and every caller reads the pre file in the other
    // states: the table-just-materialized window (table present, no
    // in-dir record — the pre lease IS the protection there) and the
    // absent table (sibling debris records may be expired leftovers of
    // an OLD writer while a NEW creator's live pre lease must fence).
    if (!readPreAlways && tableExists && primary.nonEmpty) primary
    else primary ++ at(preLeasePath(table))
  }

  /** The lease governing `table`. Several candidate records resolve to
    * the latest expiry — the conservative read for every caller. A
    * READ-ONLY summary ([[tableReport]] polling): takes the steady-state
    * pre-table skip; anything deciding whether to WRITE must use
    * [[liveForeignLease]] / [[acquireWriterLease]], which read the full
    * candidate set.
    */
  private def currentLease(table: String): Option[(String, Long)] =
    leaseCandidates(table, readPreAlways = false)
      .map { case (_, o, e) => (o, e) }.maxByOption(_._2)

  private def liveForeignLease(table: String): Option[(String, Long)] =
    leaseCandidates(table, readPreAlways = true)
      .map { case (_, o, e) => (o, e) }.maxByOption(_._2)
      .filter { case (owner, exp) =>
        owner != writerId && exp > System.currentTimeMillis()
      }

  /** Acquire (or renew — the call is idempotent for the holder) the
    * writer lease on `table` for `ttlMs` from now. False when a live
    * foreign lease exists — the caller must NOT write. A missing table
    * acquires via the pre-table lease file (see [[PreLeaseDir]]), so the
    * fencing is real from the first call, not only after the table
    * materializes. Stale-lease takeover is implicit: an expired lease is
    * no lease.
    *
    * Cross-PROCESS atomicity (two driver JVMs racing the same grab):
    *  - a fresh acquisition CREATE-EXCLUSIVEs the lease file — atomic on
    *    the local filesystem (O_EXCL) and on HDFS (namenode create);
    *    exactly one of N racers owns the path;
    *  - an expired-lease takeover first RETIRES the stale file with an
    *    atomic rename — exactly one of N renamers succeeds, and only the
    *    winner proceeds to the exclusive create;
    *  - after creating, the winner RE-READS the file and returns true
    *    only if the surviving owner field is its own — on stores whose
    *    create is check-then-write rather than atomic (some object
    *    stores), two racers can both "create", but the re-read crowns at
    *    most the one whose bytes survived; the residual window (A
    *    verifies before B overwrites) is documented best-effort there,
    *    and closed on filesystems with atomic create.
    * Renewals by the VERIFIED current owner replace the record with an
    * ATOMIC rename-over ([[renewLeaseAtomic]]): a parseable record is
    * visible at every instant, so a foreign poller racing the renewal
    * can never read the path as empty/torn and retire the LIVE holder
    * mid-renewal (truncate-then-write had exactly that torn window —
    * the same class the exclusive create closed for fresh grabs). On a
    * store without an atomic replace the renewal falls back to the
    * takeover protocol itself (retire own record → create-exclusive →
    * verify), which crowns at most one owner by construction.
    */
  def acquireWriterLease(table: String, ttlMs: Long = leaseTtlMs): Boolean =
    leaseLock.synchronized {
      val now = System.currentTimeMillis()
      // write-guard tier: the pre-table file is ALWAYS in the set (a
      // recovery-restored dir can carry an expired in-dir record while
      // a live pre-table lease still fences — see leaseCandidates)
      val cands = leaseCandidates(table, readPreAlways = true)
      if (cands.exists { case (_, o, e) => o != writerId && e > now })
        return false
      keepingSchema(table) {
        val active = if (exists(table)) leasePath(table) else preLeasePath(table)
        val content = s"v1\t$writerId\t${now + ttlMs}"
        val ownLive = cands.exists { case (_, o, e) => o == writerId && e > now }
        val ok =
          if (ownLive) renewLeaseAtomic(active, content)
          else {
            // fresh grab or expired takeover: clear the active path with an
            // atomic rename iff THE STALE RECORD WE VALIDATED still sits
            // there, then create-exclusive
            val conf = spark.sparkContext.hadoopConfiguration
            val staleAtActive = Sidecar.read(active, conf)
            (staleAtActive.isEmpty || retireLeaseFile(active, staleAtActive.get)) &&
              createLeaseExclusive(active, content) &&
              verifyOwnLease(active)
          }
        // the pre-table file is superseded the moment the in-dir lease is
        // ours — retire our own copy so it cannot outlive a later release
        if (ok && (active != preLeasePath(table)))
          Sidecar.read(preLeasePath(table), spark.sparkContext.hadoopConfiguration)
            .flatMap(parseLease).filter(_._1 == writerId)
            .foreach(_ => fs.delete(preLeasePath(table), false))
        ok
      }
    }

  /** Post-create owner verification, tolerant of TRANSIENT absence: a
    * LOSING usurper that mis-renamed this writer's fresh lease (the
    * record changed inside its read→rename window) restores it within
    * microseconds ([[retireLeaseFile]]'s rename-back), but a single
    * verify read landing inside that window would see no file and make
    * the rightful winner report failure — with every other racer also
    * losing, NOBODY would hold the lease. Retrying through short absence
    * is safe: once a readable record exists, its owner field is the
    * verdict, and no second retire of the already-retired stale record
    * can succeed (its source is gone), so retries can never crown two
    * owners.
    */
  private def verifyOwnLease(active: Path): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    // the happy path returns on the FIRST read; the retry budget only
    // paces the rare mis-rename window, where the restoring racer must
    // get scheduled before we give up. 2 s (200 × 10 ms) instead of the
    // earlier 200 ms: on a loaded host (a full test suite, a busy
    // driver) a descheduled restorer can easily exceed 200 ms, and a
    // timed-out verify turns an N-racer grab into ZERO winners — a
    // liveness flake. Budget-capped, so a truly lost lease still
    // reports lost, just 2 s later (acquisition is per-batch, not
    // per-row — the extra patience costs nothing in steady state).
    var tries = 0
    while (tries < 200) {
      Sidecar.read(active, conf).flatMap(parseLease) match {
        case Some((owner, _)) => return owner == writerId
        case None => tries += 1; Thread.sleep(10L)
      }
    }
    false // persistently absent — treat as lost, never as owned
  }

  /** Renew the VERIFIED holder's lease without ever exposing a torn or
    * absent record: the new record is written complete to a hidden
    * temp sibling and ATOMICALLY renamed over the lease path, so every
    * read that lands during the renewal sees either the old record or
    * the new one — both parseable, both this writer's. (The previous
    * truncate-then-write left a window where the path read as empty;
    * [[retireLeaseFile]] deliberately treats unparseable bytes as
    * retirable torn debris, so a foreign poller in that window could
    * retire the LIVE holder and crown a second owner.) Renaming over an
    * ABSENT path also works, which is exactly the pre-table → in-dir
    * migration (the holder's live record sits in the pre file; the
    * canonical in-dir path is still vacant). On a store without an
    * atomic replace the renewal routes through the takeover protocol
    * instead — retire own record, create-exclusive, verify — which can
    * lose the lease to a racer but can never crown two owners.
    */
  private def renewLeaseAtomic(active: Path, content: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new Path(active.getParent,
      s".lease-renew-${System.nanoTime()}-${writerId.take(8)}")
    val wrote =
      try { writeLeaseRecordRaw(tmp, content); true }
      catch { case _: java.io.IOException => false }
    // a checksum sidecar left at the DESTINATION by an older
    // fs.create-written record would mismatch the nio-renamed bytes and
    // fail every later Hadoop read with a ChecksumException — drop it
    // first (readers between the drop and the rename see the old record
    // un-verified, which still parses)
    dropLeaseCrcSidecar(active)
    val replaced = wrote && renameReplace(tmp, active)
    if (wrote && !replaced) {
      try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
      // no atomic replace here (exotic store): fall back to the takeover
      // protocol — our own record is a legal retire target
      Sidecar.read(active, conf) match {
        case Some(raw) =>
          retireLeaseFile(active, raw) &&
            createLeaseExclusive(active, content) && verifyOwnLease(active)
        case None =>
          createLeaseExclusive(active, content) && verifyOwnLease(active)
      }
    } else if (replaced) {
      // belt-and-braces: the surviving owner field is the verdict (a
      // one-read cost per renewal; renewals are per-batch, not per-row)
      verifyOwnLease(active)
    } else false
  }

  /** Write a lease record CRC-SIDECAR-FREE. Lease paths are the one
    * place this store mutates files with RAW renames (nio ATOMIC_MOVE —
    * the only atomic replace the local filesystem offers), and a raw
    * rename moves the data file but not Hadoop's `.name.crc` checksum
    * sidecar: a sidecar surviving a rename-over would make every later
    * read of the fresh record fail with a ChecksumException. So on the
    * (checksummed) local filesystem lease records are written through
    * nio — no sidecar is ever created — matching [[createLeaseExclusive]],
    * and any sidecar left by an OLDER `fs.create`-written record is
    * dropped. Non-local filesystems keep no client-side sidecar files
    * and go through the ordinary create.
    */
  private def writeLeaseRecordRaw(at: Path, value: String): Unit =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val nio = java.nio.file.Paths.get(fs.makeQualified(at).toUri.getPath)
        java.nio.file.Files.createDirectories(nio.getParent)
        java.nio.file.Files.write(nio, value.getBytes("UTF-8"))
        dropLeaseCrcSidecar(at)
      case f =>
        val out = f.create(at, true)
        try out.write(value.getBytes("UTF-8")) finally out.close()
    }

  /** Remove a stale Hadoop checksum sidecar next to a lease path (see
    * [[writeLeaseRecordRaw]]); no-op on non-checksummed filesystems.
    */
  private def dropLeaseCrcSidecar(at: Path): Unit =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val nio = java.nio.file.Paths.get(fs.makeQualified(at).toUri.getPath)
        val crc = nio.getParent.resolve("." + nio.getFileName.toString + ".crc")
        try { java.nio.file.Files.deleteIfExists(crc); () }
        catch { case _: java.io.IOException => () }
      case _ => ()
    }

  /** Rename `src` over `dst`, REPLACING an existing `dst` atomically —
    * a reader polling `dst` sees the old bytes or the new bytes, never
    * absence or a prefix. Local filesystems get nio's ATOMIC_MOVE
    * (POSIX rename(2) replaces atomically); HDFS-likes get the
    * FileContext rename with Options.Rename.OVERWRITE (namenode-atomic).
    * False when the store supports neither — callers must then fall
    * back to a protocol that tolerates a visibility gap.
    */
  private def renameReplace(src: Path, dst: Path): Boolean =
    try {
      fs match {
        case _: org.apache.hadoop.fs.LocalFileSystem |
             _: org.apache.hadoop.fs.RawLocalFileSystem =>
          val s = java.nio.file.Paths.get(fs.makeQualified(src).toUri.getPath)
          val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
          java.nio.file.Files.move(s, d,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          true
        case f =>
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            f.getUri, spark.sparkContext.hadoopConfiguration)
          fc.rename(f.makeQualified(src), f.makeQualified(dst),
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          true
      }
    } catch {
      // IOException subsumes AtomicMoveNotSupportedException (a
      // FileSystemException); either way the caller falls back
      case _: java.io.IOException => false
      case _: UnsupportedOperationException => false
    }

  /** Retire a stale lease file with an ATOMIC rename to a unique hidden
    * name; exactly one of N concurrent retirers succeeds, and only when
    * the retired bytes are STILL the stale record the caller validated.
    * Without the content check a slow racer could rename the fresh
    * winner's just-created lease away and crown itself a second owner;
    * with it, a mis-renamed file (the record changed inside the
    * read→rename window) is restored and the retire reports failure.
    * The retired copy is deleted best-effort (nothing reads
    * non-canonical names; an expired leftover is harmless).
    */
  private def retireLeaseFile(at: Path, expectedRaw: String): Boolean = {
    // validate BEFORE touching anything: a live foreign record must
    // never be renamed on purpose. An UNPARSEABLE record (a torn or
    // empty file from a crash mid-write) is retirable — it is not a
    // lease at all, and refusing it would wedge acquisition for every
    // writer forever (no expiry to wait out)
    val now = System.currentTimeMillis()
    val staleOrOwn = parseLease(expectedRaw)
      .forall { case (o, e) => o == writerId || e <= now }
    if (!staleOrOwn) return false
    val aside = new Path(at.getParent,
      s".retired-${System.nanoTime()}-${at.getName}")
    val renamed = try fs.rename(at, aside)
    catch { case _: java.io.IOException => false }
    if (!renamed) return false
    val conf = spark.sparkContext.hadoopConfiguration
    val got = Sidecar.read(aside, conf)
    if (got.contains(expectedRaw)) {
      try fs.delete(aside, false) catch { case _: java.io.IOException => () }
      true
    } else {
      // renamed a DIFFERENT record (replaced inside our window): put it
      // back ONLY if the path is still vacant and lose. The restore must
      // never REPLACE — a third racer may have create-exclusived its own
      // lease meanwhile, and a replacing rename would clobber that
      // winner's record and crown two owners (its rightful verify and
      // the restored record's owner would both pass)
      if (!renameIfAbsent(aside, at)) {
        // a newer record occupies the path — the mis-renamed copy is
        // orphaned; its owner's verify will see the newer record and
        // report the loss
        try fs.delete(aside, false) catch { case _: java.io.IOException => () }
      }
      false
    }
  }

  /** Rename `src` to `dst` only if `dst` is absent — never replacing.
    * Hadoop's FileSystem contract already fails a rename onto an
    * existing file, but RawLocalFileSystem delegates to POSIX rename(2),
    * which silently replaces; the nio move without REPLACE_EXISTING
    * restores fail-if-present semantics there.
    */
  private def renameIfAbsent(src: Path, dst: Path): Boolean =
    try {
      fs match {
        case _: org.apache.hadoop.fs.LocalFileSystem |
             _: org.apache.hadoop.fs.RawLocalFileSystem =>
          val s = java.nio.file.Paths.get(fs.makeQualified(src).toUri.getPath)
          val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
          java.nio.file.Files.move(s, d)
          true
        case f => f.rename(src, dst)
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.io.IOException => false
    }

  /** Create `at` with EXCLUSIVE semantics and write `content`. On the
    * local filesystem Hadoop's create is check-then-write, so the nio
    * O_EXCL create is used instead (atomic); elsewhere the filesystem's
    * own `create(overwrite = false)` contract applies (atomic on HDFS;
    * best-effort on stores without it — the caller's re-read-and-verify
    * narrows that residual window). False when the path already exists.
    */
  private def createLeaseExclusive(at: Path, content: String): Boolean =
    try {
      fs match {
        case _: org.apache.hadoop.fs.LocalFileSystem |
             _: org.apache.hadoop.fs.RawLocalFileSystem =>
          val nio = java.nio.file.Paths.get(fs.makeQualified(at).toUri.getPath)
          java.nio.file.Files.createDirectories(nio.getParent)
          // ONE open with O_CREAT|O_EXCL writing through ITS OWN handle —
          // a separate path-addressed write after createFile would be a
          // hole: a racer that retired this writer's still-empty file
          // (empty parses as torn debris, which is retirable) and
          // installed its own lease would then be clobbered by the
          // descheduled loser's late write landing at the PATH; a write
          // through the exclusive handle follows the retired inode
          // harmlessly instead
          java.nio.file.Files.write(nio, content.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        case f =>
          val out = f.create(at, false)
          try out.write(content.getBytes("UTF-8")) finally out.close()
          true
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException => false
    }

  /** Drop this writer's own lease (no-op on a foreign or absent one) —
    * the clean-shutdown path that lets the next writer start without
    * waiting out the TTL. Both homes are cleared: the in-dir file and
    * any pre-table file this writer left behind.
    */
  def releaseWriterLease(table: String): Unit =
    leaseLock.synchronized {
      val conf = spark.sparkContext.hadoopConfiguration
      for (p <- Seq(leasePath(table), preLeasePath(table)))
        Sidecar.read(p, conf).flatMap(parseLease).foreach { case (owner, _) =>
          if (owner == writerId) { fs.delete(p, false); () }
        }
    }

  /** Refuse `op` while a FOREIGN writer's lease is live. The gate every
    * swap and recovery passes through; own and expired leases pass.
    */
  private[store] def checkNoForeignLease(table: String, op: String): Unit =
    liveForeignLease(table).foreach { case (owner, exp) =>
      throw new IllegalStateException(
        s"$op refused for '$table': writer lease of $owner is live until " +
          s"${new java.sql.Timestamp(exp)} — a concurrent writer would " +
          "corrupt the swap protocol; stop it or retry after expiry")
    }

  /** Names of the store's tables: root-level visible directories, plus
    * names recoverable only from swap debris — a mid-swap-absent table
    * is exactly the one an operator's index must not lose. Hidden and
    * internal entries (`_graft_*`, dot-files) are excluded. One root
    * listing, no data I/O.
    */
  def listTables(): Seq[String] = {
    val parent = new Path(root)
    val f = fs
    if (!f.exists(parent)) return Nil
    val sib = "(.+)\\.(?:old|tmp)-\\d+".r
    f.listStatus(parent).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!st.isDirectory || n.startsWith("_") || n.startsWith(".")) Nil
      else n match {
        case sib(t) => Seq(t) // debris names its table
        case _      => Seq(n)
      }
    }.distinct.sorted
  }

  /** Operational summary of one table — the numbers an operator watches
    * at corpus scale: file count and bytes (is compaction keeping up?),
    * the sub-threshold small-file tail (what the next cadence will
    * rewrite), partition directory count, the declared stats columns
    * and how many files the manifest currently covers (pruned reads pay
    * live footers for the rest), the writer-lease state, and whether
    * swap debris awaits recovery. One listing + one manifest read; no
    * data I/O, no Spark job — safe to poll.
    */
  def tableReport(table: String,
                  smallThreshold: Long = 32L * 1024 * 1024): TableReport = {
    val present = exists(table)
    val files =
      if (present) listVisibleFilesMeta(table).filter(_._1.endsWith(".parquet"))
      else Nil
    reportFromFiles(table, present, files, hasSwapDebris(table), smallThreshold)
  }

  /** The [[tableReport]] computation from ALREADY-ENUMERATED file
    * metadata — shared by the per-table report (which pays its own
    * listing) and [[storageReportAll]] (which bucketed one root walk).
    * Everything here is bounded per-table sidecar READS: the lease
    * record, the declared stats specs, one manifest — point GETs, never
    * listings.
    */
  private def reportFromFiles(table: String, present: Boolean,
                              files: Seq[(String, Long, Long)],
                              debris: Boolean,
                              smallThreshold: Long): TableReport = {
    val lease = currentLease(table) match {
      case None => "none"
      case Some((owner, exp)) =>
        val state = if (exp > System.currentTimeMillis()) "live" else "expired"
        val who = if (owner == writerId) "own" else "foreign"
        s"$state-$who"
    }
    if (!present)
      return TableReport(table, 0, 0L, 0, 0, "", 0, lease, debris)
    val dirs = files.map(_._1.split("/").dropRight(1).mkString("/"))
      .filter(_.nonEmpty).distinct.size
    val specs = declaredStatsSpecs(table)
    val covered =
      if (specs.isEmpty) 0
      else {
        val cache = manifestVerdictsAll(table, specs)
        files.count(v => specs.forall { case (cn, u) =>
          cache((cn, TableStore.unitTag(u))).contains((v._1, v._2, v._3))
        })
      }
    TableReport(table, files.size, files.map(_._2).sum,
      files.count(_._2 < smallThreshold), dirs,
      specs.map(_._1).mkString(","), covered, lease, debris)
  }

  /** Every table's [[tableReport]] from ONE recursive root walk — the
    * ops-index tier (`GET /ops/tables`). Mapping `tableReport` over
    * [[listTables]] pays one LIST per table: fine at tens of tables,
    * O(tables) namenode/object-store LIST calls per dashboard poll at
    * corpus scale (a 10k-table store would pay 10k listings per poll).
    * Here the store root is enumerated ONCE (`listFiles(root,
    * recursive)` — one paged LIST on object stores, one streamed
    * namenode walk on HDFS), files bucket by their top-level directory,
    * debris-only table names fall out of the same sibling-name parse the
    * per-table path uses, and every report is computed from the bucketed
    * metadata via [[reportFromFiles]]. What remains per table is bounded
    * point READS (lease record, stats specs, manifest) — GETs an ops
    * poll can afford, not listings. Counted as ONE entry in
    * [[listingsPerformed]]; when the listing cache is on, each table's
    * bucket refreshes its cache entry, so a following pruned read pays
    * no relisting either.
    *
    * Ordering and row shape match `listTables().map(tableReport)`
    * exactly, including zero-file rows for mid-swap-absent tables (their
    * debris flagged) — `TableReportSpec` pins the equivalence.
    */
  def storageReportAll(smallThreshold: Long = 32L * 1024 * 1024): Seq[TableReport] = {
    val parent = new Path(root)
    val f = fs
    if (!f.exists(parent)) return Nil
    val sib = "(.+)\\.(?:old|tmp)-\\d+".r
    // one top-level listing discovers the table names (incl. EMPTY table
    // dirs, which a file walk cannot see) and the debris siblings...
    val tops = f.listStatus(parent).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    val live = tops.filterNot(n => sib.matches(n)).toSet
    val debrisFor = tops.collect { case sib(t) => t }.toSet
    // ...and one recursive walk supplies every live table's file
    // metadata (the walk descends debris/hidden dirs too on some
    // filesystems — bucketing by top name discards those entries)
    listingsPerformed.incrementAndGet()
    val rootPath = f.makeQualified(parent).toUri.getPath
    val byTable = scala.collection.mutable.Map.empty[
      String, scala.collection.mutable.ArrayBuffer[(String, Long, Long)]]
    val it = f.listFiles(parent, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(rootPath).stripPrefix("/")
      val cut = rel.indexOf('/')
      if (cut > 0) {
        val top = rel.substring(0, cut)
        val inner = rel.substring(cut + 1)
        if (live.contains(top) && !isHiddenRel(inner))
          byTable.getOrElseUpdate(top,
            scala.collection.mutable.ArrayBuffer.empty) +=
            ((inner, st.getLen, st.getModificationTime))
      }
    }
    val now = System.nanoTime()
    (live ++ debrisFor).toSeq.sorted.map { t =>
      val all = byTable.get(t).map(_.toSeq).getOrElse(Nil)
      if (live.contains(t) && listingTtlMs > 0)
        listingCache.put(t, (now, all))
      reportFromFiles(t, live.contains(t),
        all.filter(_._1.endsWith(".parquet")),
        debrisFor.contains(t), smallThreshold)
    }
  }

  // -------------------------------------------------------------------
  // Table properties: tiny `_graft_<key>` sidecar files inside the table
  // directory (underscore-prefixed, so parquet readers ignore them).
  // Used for layout metadata that must travel WITH the data — e.g. the
  // chunk bucket count, where a reader assuming the wrong value would
  // silently filter out rows.
  // -------------------------------------------------------------------

  private def propPath(table: String, key: String) =
    new Path(tablePath(table) + s"/_graft_$key")

  def setTableProp(table: String, key: String, value: String): Unit =
    keepingSchema(table)(writePropFile(propPath(table, key), value))

  private def writePropFile(at: Path, value: String): Unit = {
    val out = fs.create(at, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
  }

  def getTableProp(table: String, key: String): Option[String] =
    Sidecar.read(propPath(table, key), spark.sparkContext.hadoopConfiguration)

  private def allTableProps(table: String): Seq[(String, String)] =
    if (!exists(table)) Nil
    else fs.listStatus(new Path(tablePath(table))).toSeq
      .map(_.getPath.getName).filter(_.startsWith("_graft_"))
      .flatMap(n => getTableProp(table, n.stripPrefix("_graft_"))
        .map(v => n.stripPrefix("_graft_") -> v))
}
