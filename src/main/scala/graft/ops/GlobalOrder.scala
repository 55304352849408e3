package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] Distributed global ordering primitives: assign every row its rank
  * in a corpus-wide total order WITHOUT funnelling the corpus through one
  * task (`Window.orderBy` with no partition key collapses to a single
  * partition — the classic scale trap).
  *
  * Same two-level design as [[Packing.packSequences]], specialised to
  * hex-string order keys (md5-style): the key's first two hex characters
  * give 256 DETERMINISTIC buckets whose numeric order equals the key's
  * lexicographic order (lowercase hex is order-preserving under the
  * char-by-char comparison both Spark and any ANSI engine use), so
  *
  *   1. bucket assignment is pure per-row arithmetic — no sampling, no
  *      `repartitionByRange`, identical on every evaluation;
  *   2. one tiny aggregate (256 rows) collects per-bucket counts to the
  *      driver, which prefix-sums them into per-bucket base ranks;
  *   3. a window partitioned BY BUCKET (parallel) ranks within buckets and
  *      adds the base.
  *
  * md5 keys are uniform, so the 256 buckets are balanced at any corpus
  * size; one shuffle total (hash by bucket for the window).
  */
object GlobalOrder {

  /** Adds `posName`: the 0-based rank of each row under the total order
    * (keyCol, tieCols...). `keyCol` must be a lowercase-hex string with at
    * least two characters (an md5/sha hex digest); `tieCols` break exact
    * key collisions so the rank is well-defined row-by-row.
    *
    * Precondition (same as Packing.packSequences): `df` must evaluate
    * DETERMINISTICALLY — the input is scanned twice (once for the bucket
    * counts, once for the ranking), and the per-bucket bases computed
    * from the first scan are only valid if the second sees the same rows.
    * Frames containing `sample()`/`rand()` or reading mutable sources
    * must be persisted/checkpointed by the caller first.
    */
  def rankByHexKey(df: DataFrame, keyCol: Column, tieCols: Seq[Column],
                   posName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!df.columns.exists(_.equalsIgnoreCase(posName)),
      s"rankByHexKey adds '$posName'; rename the existing column")
    // temp columns must not clobber caller columns of the same name
    val kc = Cols.fresh(df, "_go_key")
    val bc = Cols.fresh(df, "_go_bucket")
    val withKey = df.withColumn(kc, keyCol)
      .withColumn(bc,
        when(col(kc).rlike("^[0-9a-f]{2}"),
          conv(substring(col(kc), 1, 2), 16, 10).cast("int")))
    // 256 rows to the driver; prefix-sum into per-bucket base ranks
    val counts = withKey.groupBy(bc).count()
      .collect().map { r =>
        require(!r.isNullAt(0),
          s"rankByHexKey: ${r.getLong(1)} row(s) have a null or " +
            "non-lowercase-hex order key; keys must be >=2 lowercase hex " +
            "chars (an md5/sha digest)")
        r.getInt(0) -> r.getLong(1)
      }.toMap
    var acc = 0L
    val bases: Map[Int, Long] = (0 until 256).map { b =>
      val e = b -> acc
      acc += counts.getOrElse(b, 0L)
      e
    }.toMap
    val basesCol = typedLit(bases)
    val w = Window.partitionBy(bc).orderBy(col(kc) +: tieCols: _*)
    withKey
      .withColumn(posName,
        element_at(basesCol, col(bc)) + row_number().over(w) - 1)
      .drop(kc, bc)
  }

  /** Grouped twin of [[rankByHexKey]]: `posName` is the row's 0-based rank
    * WITHIN its `groupCols` group under the (keyCol, tieCols...) order —
    * with neither a per-group single-task funnel (`Window.partitionBy
    * (group).orderBy(key)` funnels each group through ONE task, the scale
    * trap when one stratum dominates the corpus) nor driver state (group
    * cardinality is unbounded, so the driver-side prefix sum of the
    * ungrouped variant does not transfer).
    *
    * Fully distributed two-level scheme: per-(group, bucket) counts are a
    * tiny aggregate (≤256 rows per group); the per-group prefix sum over
    * those counts is a window over ≤256 rows per partition; the bases
    * join back (broadcast while executor-sized — ≤ 2M rows — a plain
    * shuffled join beyond, so group cardinality never bounds the
    * operator); the final window partitions by (group, bucket) —
    * 256-way parallel within every group.
    *
    * Same determinism precondition as [[rankByHexKey]]: the input is
    * scanned twice and must evaluate identically both times. Rows with a
    * null/non-hex key or a null group fail with a clear message (a null
    * group would silently vanish at the base join — null keys never
    * equi-join).
    */
  def rankByHexKeyWithin(df: DataFrame, groupCols: Seq[String],
                         keyCol: Column, tieCols: Seq[Column],
                         posName: String): DataFrame =
    rankByHexKeyWithin(df, groupCols, keyCol, tieCols, posName, None)

  /** As [[rankByHexKeyWithin(df*]]; when `sizeName` is set, the output
    * also carries each row's GROUP SIZE under that name — derived from
    * the same per-(group, bucket) count frame the ranking already
    * aggregates, so callers needing quotas (stratified splits) skip a
    * third corpus scan.
    */
  def rankByHexKeyWithin(df: DataFrame, groupCols: Seq[String],
                         keyCol: Column, tieCols: Seq[Column],
                         posName: String, sizeName: Option[String],
                         broadcastMaxBaseRows: Long = BroadcastMaxBaseRows)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupCols.nonEmpty, "rankByHexKeyWithin needs >=1 group column")
    val clobbered = (posName +: sizeName.toSeq)
      .filter(n => df.columns.exists(_.equalsIgnoreCase(n)))
    require(clobbered.isEmpty,
      s"rankByHexKeyWithin adds ${clobbered.mkString("/")}; " +
        "rename the existing column(s)")
    val kc = Cols.fresh(df, "_go_key")
    val bc = Cols.fresh(df, "_go_bucket")
    val baseC = Cols.fresh(df, "_go_base")
    val withKey = df.withColumn(kc, keyCol)
      .withColumn(bc,
        when(col(kc).rlike("^[0-9a-f]{2}"),
          conv(substring(col(kc), 1, 2), 16, 10).cast("int")))
    // tiny frame: one row per (group, bucket); checkpointed because it is
    // consumed twice (validity check + base join) and re-aggregating the
    // corpus twice would double the heavy pass
    val counts = withKey.groupBy(groupCols.map(col) :+ col(bc): _*).count()
      .localCheckpoint()
    val invalid = counts.filter(col(bc).isNull ||
      groupCols.map(col(_).isNull).reduce(_ || _)).limit(1).collect()
    require(invalid.isEmpty,
      "rankByHexKeyWithin: rows with a null group or a null/non-lowercase-" +
        "hex order key present; keys must be >=2 lowercase hex chars and " +
        "groups non-null")
    val wBase = Window.partitionBy(groupCols.map(col): _*).orderBy(col(bc))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTotal = Window.partitionBy(groupCols.map(col): _*)
    val bases = counts
      .withColumn(baseC, coalesce(sum("count").over(wBase), lit(0L)))
      .withColumns(sizeName.map(_ -> sum("count").over(wTotal)).toMap)
      .drop("count")
    val wRank = Window.partitionBy(groupCols.map(col) :+ col(bc): _*)
      .orderBy(col(kc) +: tieCols: _*)
    // bases is groups × ≤256 rows: broadcast while that is executor-sized,
    // fall back to a shuffled join for very-high-cardinality groupings
    // (the counts frame is checkpointed, so the cardinality probe is a
    // cheap local count, and the join input is never recomputed)
    val basesJoin =
      if (counts.count() <= broadcastMaxBaseRows) broadcast(bases) else bases
    withKey
      .join(basesJoin, groupCols :+ bc)
      .withColumn(posName, col(baseC) + row_number().over(wRank) - 1)
      // the using-join moved its keys first; restore the caller's layout
      .select(df.columns.map(col).toIndexedSeq ++
        (col(posName) +: sizeName.map(col).toSeq): _*)
  }

  /** SERIAL-parity dense ids (`base+1, base+2, ...` in `sortCols` order)
    * WITHOUT the one-task funnel of `row_number().over(Window.orderBy)`:
    * the count-of-one case of [[prefixSumsOf]] — a row's id is `base + 1`
    * plus the number of rows before it. Same scale shape, preconditions
    * and eager pre-passes (`onPhase`: `boundary_sample`, and
    * `bucket_sums` off the small-frame fast path) as [[prefixSumsOf]].
    *
    * @param numPartitions fan-out of the within-bucket ranking (default
    *   `spark.sql.shuffle.partitions`, capped at 256)
    */
  def denseIds(df: DataFrame, sortCols: Seq[Column], idName: String,
               base: Long = 0L, numPartitions: Option[Int] = None,
               onPhase: (String, Double) => Unit = (_, _) => ()): DataFrame = {
    require(!df.columns.exists(_.equalsIgnoreCase(idName)),
      s"denseIds adds '$idName'; rename the existing column")
    val rankC = Cols.fresh(df, "_go_rank")
    prefixSumsOf(df, sortCols, Seq(rankC -> lit(1L)), numPartitions, onPhase)._1
      .select(df.columns.map(col).toIndexedSeq :+
        (lit(base) + col(rankC) + 1L).as(idName): _*)
  }

  /** Corpus-wide EXCLUSIVE prefix sums in a total order, without the
    * one-task funnel: `outName` = Σ value over all rows STRICTLY before
    * this row under `sortCols` — the running-total primitive behind
    * byte-budget sharding ([[TarExport.writeTarShardsByBytes]]) and any
    * "split where a cumulative quantity crosses a threshold" layout. The
    * one-value case of [[prefixSumsOf]].
    */
  def prefixSums(df: DataFrame, sortCols: Seq[Column], valueCol: Column,
                 outName: String, numPartitions: Option[Int] = None,
                 onPhase: (String, Double) => Unit = (_, _) => ()): DataFrame =
    prefixSumsOf(df, sortCols, Seq(outName -> valueCol), numPartitions, onPhase)._1

  /** Several exclusive prefix sums in ONE pass: for every `(outName,
    * value)`, `outName` = Σ value over all rows strictly before this row
    * under `sortCols`; also returns each value's corpus total. Ingest
    * stamps document ranks and chunk and chart id bases this way —
    * `(1, nChunks, nCharts)` per document — so one pass assigns all three
    * id ranges.
    *
    * Two-level scheme — one slim sample job, one sums job and ONE corpus
    * exchange whatever the number of values:
    *
    *   1. bucket boundaries are SAMPLED ONCE to the driver (per-partition
    *      top-k on a random key, ≤16k rows) and embedded in the plan as
    *      LITERALS, so the per-row bucket assignment is pure literal
    *      comparison — deterministic on every evaluation by construction.
    *      (A partition-id scheme over a range exchange is NOT used: the
    *      sums branch and the stamping branch are separate subtrees after
    *      optimization, and pruning / AQE coalescing can lay them out
    *      differently — boundary literals cannot diverge.)
    *   2. one job folds every partition into a dense (bucket × value)
    *      array of sums, tree-combined to the driver (no exchange, so one
    *      job, where a grouped aggregate is two under adaptive
    *      execution); the driver prefix-sums it into per-bucket bases
    *      embedded as literal maps — a per-row map lookup, no join — and
    *      the totals fall out of the same array;
    *   3. a window partitioned BY BUCKET adds each value's within-bucket
    *      running sum to its bucket base, in parallel.
    *
    * Bucket-order correctness does not depend on the sample: bucket(key)
    * = #{boundaries < key} is monotone in the engine's key order for ANY
    * fixed boundary set, so a skewed sample only unbalances bucket sizes.
    *
    * Small-frame fast path: a sample that comes back short of its cap
    * PROVES it holds the whole frame, so the values are summed on the
    * driver from the sample itself (no aggregate job) and the frame is
    * stamped by one bounded window with no partition key. Frames with
    * binary columns are excluded: the row bound is not a byte bound, and
    * blob batches must not funnel through one window task.
    *
    * Preconditions: `df` must evaluate DETERMINISTICALLY (it is scanned
    * more than once — pass checkpointed/persisted frames); `sortCols` a
    * unique key over atomic orderable types (string/numeric/date/
    * timestamp); values non-null — a null would silently vanish from
    * every later prefix, so nulls are counted in the sums job (or in the
    * driver-held sample) and refused loudly. Long arithmetic: at 100 TB
    * of byte-sized values a total is ~2^47.
    *
    * @param numPartitions bucket fan-out (default
    *   `spark.sql.shuffle.partitions`, capped at 256 — boundary literals
    *   are compared per row, so the chain is kept codegen-sized)
    * @param onPhase timing hook for the EAGER stages (`boundary_sample`,
    *   and `bucket_sums` off the fast path); the stamping window is the
    *   remainder of the caller's wall clock
    */
  def prefixSumsOf(df: DataFrame, sortCols: Seq[Column],
                   values: Seq[(String, Column)],
                   numPartitions: Option[Int] = None,
                   onPhase: (String, Double) => Unit = (_, _) => ())
      : (DataFrame, Seq[Long]) = {
    import org.apache.spark.sql.expressions.Window
    require(sortCols.nonEmpty, "prefixSums needs >=1 sort column")
    require(values.nonEmpty, "prefixSums needs >=1 value")
    values.foreach { case (n, _) =>
      require(!df.columns.exists(_.equalsIgnoreCase(n)),
        s"prefixSums adds '$n'; rename the existing column")
    }
    val bucketC = Cols.fresh(df, "_go_bucket")
    val valCs = values.indices.map(i => Cols.fresh(df, s"_go_val$i"))
    val nB = numPartitions.getOrElse(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt)
      .max(1).min(256)
    val withVals = valCs.zip(values).foldLeft(df) { case (acc, (c, (_, v))) =>
      acc.withColumn(c, v.cast("long"))
    }
    def refuseNulls(n: Long, i: Int): Unit =
      require(n == 0L, s"prefixSums: $n row(s) carry a null '${values(i)._1}' " +
        "value — a null value would silently vanish from every later prefix")
    def exclusive(c: String, w: org.apache.spark.sql.expressions.WindowSpec) =
      coalesce(sum(c).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    def stamped(from: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec,
                bases: Int => Column): DataFrame =
      from.select(df.columns.map(col).toIndexedSeq ++ values.indices.map(i =>
        (bases(i) + exclusive(valCs(i), w)).as(values(i)._1)): _*)

    // ---- boundary sample: per-partition top-k on a random key, merged
    // on the driver — one slim scan, O(sample) driver memory, no count()
    // pre-pass. rand() is evaluated exactly once (collected), so its
    // nondeterminism never reaches the bucket assignment. The values ride
    // along: on the fast path they ARE the whole frame's values
    val rC = Cols.fresh(df, "_go_r")
    val sampleN = math.max(nB * 64, 1024)
    val tSample = System.nanoTime()
    val sample = withVals.select(sortCols ++ valCs.map(col): _*)
      .withColumn(rC, rand(42))
      .orderBy(col(rC)).limit(sampleN).drop(rC).collect()
    onPhase("boundary_sample", (System.nanoTime() - tSample) / 1e9)
    val k = sortCols.length

    // ---- small-frame fast path: the short sample is the whole frame.
    // The window has no partition key: one bounded task (< sampleN rows),
    // which WindowExec logs as an unpartitioned window
    if (sample.length < sampleN && !hasBinaryColumn(df.schema)) {
      val totals = values.indices.map { i =>
        refuseNulls(sample.count(_.isNullAt(k + i)).toLong, i)
        sample.iterator.map(_.getLong(k + i)).sum
      }
      return (stamped(withVals, Window.orderBy(sortCols: _*), _ => lit(0L)), totals)
    }

    val marked = withVals.withColumn(bucketC, bucketExpr(sample, sortCols, nB))
    // per-bucket sums as ONE job with no exchange: each partition folds
    // its rows into a dense (bucket × value) array of sums and null
    // counts, tree-combined to the driver. Nulls are counted because
    // sum() would skip them silently, corrupting every later prefix
    val nV = values.length
    val tSums = System.nanoTime()
    val acc = marked.select(col(bucketC) +: valCs.map(col): _*)
      .queryExecution.toRdd
      .treeAggregate(new Array[Long](nB * 2 * nV))((a, r) => {
        val at = r.getInt(0) * 2 * nV
        var i = 0
        while (i < nV) {
          if (r.isNullAt(1 + i)) a(at + nV + i) += 1 else a(at + i) += r.getLong(1 + i)
          i += 1
        }
        a
      }, (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
    onPhase("bucket_sums", (System.nanoTime() - tSums) / 1e9)
    values.indices.foreach(i =>
      refuseNulls((0 until nB).map(b => acc(b * 2 * nV + nV + i)).sum, i))
    val sums = (0 until nB).map(b => acc.slice(b * 2 * nV, b * 2 * nV + nV))
    val bases = values.indices.map(i => sums.scanLeft(0L)(_ + _(i)).take(nB))
    (stamped(marked, Window.partitionBy(bucketC).orderBy(sortCols: _*),
      i => element_at(typedLit(bases(i).zipWithIndex.map(_.swap).toMap), col(bucketC))),
      values.indices.map(i => sums.map(_(i)).sum))
  }

  /** Bucket assignment from a driver-held boundary sample (whose first
    * `sortCols.length` fields are the sort keys):
    * bucket = #{boundaries < key}, a flat sum of literal lexicographic
    * comparisons (null keys sort first, as in the engine's ordering). For
    * ANY fixed boundary set the count is monotone in the engine's key
    * order, so a skewed sample only unbalances bucket sizes, never the
    * order.
    */
  private def bucketExpr(sample: Array[org.apache.spark.sql.Row],
                         sortCols: Seq[Column], nB: Int): Column = {
    val width = math.max(1, sample.length / nB)
    val boundaries = sample.sorted(rowOrdering(sortCols.length))
      .zipWithIndex.collect { case (r, i) if i % width == width - 1 => r }
      .take(nB - 1)
    boundaries.foldLeft(lit(0)) { (acc, b) =>
      val gt = sortCols.zipWithIndex.foldRight(lit(false)) {
        case ((c, i), rest) =>
          val v = b.get(i)
          val (g, e) =
            if (v == null) (c.isNotNull, c.isNull)
            else (c > lit(v), c <=> lit(v))
          g || (e && rest)
      }
      acc + when(coalesce(gt, lit(false)), 1).otherwise(0)
    }
  }

  /** True when the schema carries a binary column anywhere (top level or
    * nested) — the payload-weight signal the small-frame fast path gates on.
    */
  private def hasBinaryColumn(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case BinaryType     => true
      case s: StructType  => s.fields.exists(f => hasBinaryColumn(f.dataType))
      case a: ArrayType   => hasBinaryColumn(a.elementType)
      case m: MapType     => hasBinaryColumn(m.keyType) || hasBinaryColumn(m.valueType)
      case _              => false
    }
  }

  /** Driver-side lexicographic Row ordering for the boundary sample.
    * Only balance depends on it (see [[denseIds]]), so a Comparable cast
    * suffices; nulls sort first to mirror the engine's NULLS FIRST.
    */
  private def rowOrdering(numKeys: Int): Ordering[org.apache.spark.sql.Row] =
    (a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row) => {
      var i = 0
      var res = 0
      while (i < numKeys && res == 0) {
        res = (a.get(i), b.get(i)) match {
          case (null, null) => 0
          case (null, _) => -1
          case (_, null) => 1
          case (x: Comparable[_], y) =>
            x.asInstanceOf[Comparable[Any]].compareTo(y)
          case (x, _) => throw new IllegalArgumentException(
            s"denseIds sort keys must be atomic orderable types; got " +
              s"${x.getClass.getName}")
        }
        i += 1
      }
      res
    }

  // ~128 MB of (group, bucket, base) rows at worst — the broadcast bound
  private val BroadcastMaxBaseRows = 2000000L
}
