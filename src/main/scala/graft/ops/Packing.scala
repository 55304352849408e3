package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Sequence packing for pretraining-data assembly: documents are
  * concatenated in a deterministic order (ascending id) and chopped into
  * fixed-length token sequences, the standard way LLM training shards are
  * packed (a document may straddle a sequence boundary). The result maps
  * every document to its placement: first sequence index, offset within
  * that sequence, and last sequence touched.
  *
  * Scale design: the placement is a running token sum over a globally
  * sorted corpus. A naive `Window.orderBy(id)` (no partition key) funnels
  * the corpus through ONE task; instead this runs a two-level distributed
  * prefix sum over DETERMINISTIC equal-width id buckets:
  *
  *   1. bucket = (id - minId) / width  — pure arithmetic, no sampling, so
  *      every job computes the identical assignment (a sampled
  *      `repartitionByRange` + `TaskContext.getPartitionId` scheme is NOT
  *      stable across the two passes once AQE re-plans or the range
  *      sampler draws differently);
  *   2. one tiny aggregate (`groupBy(bucket).sum(tok)`) collects ONE row
  *      per bucket to the driver, which prefix-sums them into per-bucket
  *      base offsets (O(buckets) driver state);
  *   3. a window partitioned BY BUCKET (parallel, no single-task funnel)
  *      adds the within-bucket running sum to the bucket's base.
  *
  * One shuffle (hash by bucket for the window) plus a map-side-combined
  * aggregate that shares the scan. Equal-width buckets assume ids are
  * roughly dense (true for sequence-assigned doc ids); a pathologically
  * clustered id space only unbalances bucket sizes, never correctness.
  */
object Packing {

  /** Context-window splitting: each document becomes strided token
    * windows of at most `size` tokens (stride < size ⇒ overlapping
    * windows, the standard long-document treatment when packing would
    * split semantic units). One scalar pass per document, zero shuffle.
    * A trailing partial window is kept (training pads it) — but emission
    * stops once a window reaches the document end: a further stride-step
    * window would contain ONLY tokens already covered by its predecessor,
    * i.e. a duplicated training sample.
    *
    * @return (doc_id, win_idx, win_start, n_tokens, first_token)
    */
  def tokenWindows(df: DataFrame, idCol: String, textCol: String,
                   size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        // continue only while the PREVIOUS window fell short of the end
        Iterator.from(0).map(_ * stride)
          .takeWhile(s => s == 0 || s < toks.length - size + stride)
          .zipWithIndex.map { case (start, idx) =>
            (id, idx, start, math.min(size, toks.length - start), toks(start))
          }
      }
      .toDF("doc_id", "win_idx", "win_start", "n_tokens", "first_token")
  }

  /** Materialize a packed corpus as training shards: every document's
    * placement goes to the shard of its STARTING sequence
    * (shard = seq_start div seqsPerShard), hive-partitioned so a trainer
    * streams shard directories independently (and a resume can re-read
    * one shard without touching the rest). A boundary-straddling document
    * lives in its starting shard; the trainer reads one shard ahead for
    * the tail, the standard contract for packed shards.
    *
    * @return number of shards written
    */
  def writeShards(df: DataFrame, idCol: String, tokenCol: String,
                  seqLen: Long, seqsPerShard: Long, path: String): Long = {
    require(seqsPerShard > 0, s"seqsPerShard must be positive, got $seqsPerShard")
    val packed = packSequences(df, idCol, tokenCol, seqLen)
      .withColumn("shard", expr(s"seq_start div ${seqsPerShard}L"))
    // empty corpus: a partitioned write would emit no data files at all
    // (unreadable directory, schema lost) — write one empty unpartitioned
    // file instead, preserving the schema, and report zero shards.
    // Emptiness is probed on the 1-row-limited INPUT, not on `packed`,
    // whose evaluation would re-run the whole placement plan a second
    // time ahead of the write.
    if (df.limit(1).isEmpty) {
      packed.write.mode("overwrite").parquet(path)
      return 0L
    }
    packed.write.mode("overwrite").partitionBy("shard").parquet(path)
    val spark = df.sparkSession
    spark.read.parquet(path).select("shard").distinct().count()
  }

  /** Assemble the ACTUAL per-sequence token streams from a packed corpus:
    * every training sequence's text, built by slicing each document's
    * tokens into the sequences it straddles and concatenating slices in
    * corpus order — the step that turns placements into shard content.
    *
    * Scale shape: one corpus join (tokens ⋈ placements — both keyed by
    * id), then each document explodes into at most (tok/seqLen + 2) span
    * rows, and one shuffle groups spans by sequence. Memory per group is
    * one sequence (seqLen tokens), never a partition. Zero-token
    * documents contribute nothing. Executor storage is bounded: only a
    * slim (id, token_count) frame is checkpointed (16 B/row), released
    * on driver GC via the ContextCleaner — or deterministically by
    * [[sequenceTextsManaged]], the preferred form in long-lived
    * sessions.
    *
    * @return (seq_id, n_docs, n_tokens, seq_md5) — n_tokens == seqLen for
    *         every sequence except the last; seq_md5 fingerprints the
    *         space-joined token stream (md5 hex, engine-portable)
    */
  def sequenceTexts(df: DataFrame, idCol: String, textCol: String,
                    seqLen: Long): DataFrame =
    sequenceTextsReleasable(df, idCol, textCol, seqLen)._1

  /** As [[sequenceTexts]], but scoped: `use` receives the assembled
    * frame, and the internal checkpoint storage is released when it
    * returns — the lifecycle-managed form for repeated/long-lived
    * sessions, where relying on the returned frame's GC (the unmanaged
    * path) would let checkpoint blocks accumulate between collections.
    * The frame must not escape `use` (its checkpoint is gone after).
    */
  def sequenceTextsManaged[T](df: DataFrame, idCol: String, textCol: String,
                              seqLen: Long)(use: DataFrame => T): T = {
    val (out, release) = sequenceTextsReleasable(df, idCol, textCol, seqLen)
    try use(out) finally release()
  }

  private def sequenceTextsReleasable(df: DataFrame, idCol: String,
                                      textCol: String, seqLen: Long)
      : (DataFrame, () => Unit) = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    // Only the SLIM (id, token_count) frame is checkpointed — 16 B/row
    // of executor storage, materialized once and consumed by
    // packSequences' bounds aggregate, its subtotal collect, and the
    // placement side of the join (same consumed-thrice reasoning as
    // rankByHexKeyWithin's counts frame). The tokenized ARRAYS are
    // corpus-sized and are deliberately NOT checkpointed: they are
    // re-split exactly once, inside the single consuming query below —
    // at scale, one extra scan-and-split beats parking the whole
    // tokenized corpus in executor storage (which spills, and which the
    // unmanaged path can only release on driver GC).
    val (slim, release) = LocalCheckpoint(df
      .select(col(idCol).cast("long").as("id"), col(textCol))
      .filter(col("id").isNotNull && col(textCol).isNotNull)
      .select(col("id"),
        size(split(col(textCol), " ")).cast("long").as("tok")))

    val placed = packSequences(slim, "id", "tok", seqLen)
    val toks = df
      .select(col(idCol).cast("long").as("id"), col(textCol))
      .filter(col("id").isNotNull && col(textCol).isNotNull)
      .select(col("id"), split(col(textCol), " ").as("ts"))
    val assembled = placed.join(toks, placed("doc_id") === toks("id"))
      .filter(col("token_count") > 0)
      .select(col("ts"), col("token_count").as("tok"), col("token_start"),
        explode(sequence(col("seq_start"), col("seq_end"))).as("seq_id"))
      // local slice bounds of this doc's tokens inside sequence seq_id
      .withColumn("lo",
        greatest(col("seq_id") * seqLen - col("token_start"), lit(0L)))
      .withColumn("hi",
        least((col("seq_id") + 1) * seqLen - col("token_start"), col("tok")))
      .withColumn("piece", slice(col("ts"), (col("lo") + 1).cast("int"),
        (col("hi") - col("lo")).cast("int")))
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("hi") - col("lo")).as("n_tokens"),
        // pieces ordered by the contributing doc's global offset, so the
        // concatenation is the corpus-order token stream
        sort_array(collect_list(struct(col("token_start"), col("piece"))))
          .as("ps"))
      .select(col("seq_id"), col("n_docs"), col("n_tokens"),
        md5(concat_ws(" ", flatten(col("ps.piece")))).as("seq_md5"))
    (assembled, release)
  }

  /** @param idCol       unique document id (packing order)
    * @param tokenCol    per-document token count
    * @param seqLen      tokens per packed training sequence (> 0)
    * @param buckets     prefix-sum fan-out (0 = spark.sql.shuffle.partitions)
    * @return (doc_id, token_count, token_start, seq_start, seq_offset,
    *         seq_end); zero-token documents occupy no tokens and get
    *         seq_end = seq_start
    */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
                    seqLen: Long, buckets: Int = 0): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val spark = df.sparkSession
    val nB =
      if (buckets > 0) buckets
      else spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val base = df.select(col(idCol).cast("long").as("id"),
      col(tokenCol).cast("long").as("tok"))

    val bounds = base.agg(min("id"), max("id"),
      count(lit(1)), count("id"), count("tok")).head()
    // null ids/token-counts — including string ids that cast('long') to
    // null — would silently misplace every row (an all-null input would
    // take the empty path yet emit rows; a mixed one would NPE at the
    // subtotal collect). Reject them loudly, like every sibling op.
    require(bounds.getLong(2) == bounds.getLong(3) &&
      bounds.getLong(2) == bounds.getLong(4),
      s"packSequences: ${bounds.getLong(2) - bounds.getLong(3)} null/" +
        s"non-castable id(s) and ${bounds.getLong(2) - bounds.getLong(4)} " +
        "null token count(s) present; ids and token counts must be " +
        "non-null and castable to long")
    if (bounds.getLong(2) == 0L) {
      // empty input: emit the full schema, zero rows
      return base.limit(0)
        .select(col("id").as("doc_id"), col("tok").as("token_count"),
          col("tok").as("token_start"), col("tok").as("seq_start"),
          col("tok").as("seq_offset"), col("tok").as("seq_end"))
    }
    val minId = bounds.getLong(0)
    val maxId = bounds.getLong(1)
    // span computed in BigInt: an id space mixing large negative and large
    // positive values (64-bit hash ids) overflows long subtraction, which
    // would silently collapse the bucketing
    val span = BigInt(maxId) - BigInt(minId)
    val width = ((span / nB) + 1).max(1)
    val maxBucket = (span / width).toLong // <= nB, always a small long
    // `div` (integer), NOT `/` (double division on longs loses exactness).
    // The narrow-span fast path stays in long arithmetic; a span past
    // 2^63 routes through DECIMAL(38,0), which is exact for any 64-bit id
    val bucketed =
      if (span <= Long.MaxValue)
        base.withColumn("bucket",
          expr(s"(id - ${minId}L) div ${width.toLong}L"))
      else
        base.withColumn("bucket",
          expr(s"CAST((CAST(id AS DECIMAL(38,0)) - CAST('$minId' AS " +
            s"DECIMAL(38,0))) div CAST('$width' AS DECIMAL(38,0)) AS BIGINT)"))

    // one row per non-empty bucket; prefix-sum on the driver
    val subtotals = bucketed.groupBy("bucket").agg(sum("tok").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var acc = 0L
    val bases: Map[Long, Long] = (0L to maxBucket).map { b =>
      val e = b -> acc
      acc += subtotals.getOrElse(b, 0L)
      e
    }.toMap
    val basesCol = typedLit(bases)

    val w = Window.partitionBy("bucket").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed
      .withColumn("token_start",
        element_at(basesCol, col("bucket")) + sum("tok").over(w) - col("tok"))
      // integer `div`, not `/`: double division would lose exactness for
      // token offsets past 2^53 (and these are exact placements, not stats)
      .select(col("id").as("doc_id"), col("tok").as("token_count"),
        col("token_start"),
        expr(s"token_start div ${seqLen}L").as("seq_start"),
        pmod(col("token_start"), lit(seqLen)).as("seq_offset"),
        greatest(expr(s"token_start div ${seqLen}L"),
          expr(s"(token_start + tok - 1) div ${seqLen}L")).as("seq_end"))
  }

  /** The loader-facing SPAN TABLE of a packed corpus: one row per
    * (sequence, document) overlap — which slice of training sequence
    * `seq` belongs to which document. This is exactly what a trainer
    * needs to build block-diagonal attention masks / position-id resets
    * across packed boundaries, and what an eval harness needs to map a
    * sequence position back to its source document.
    *
    * Derived from [[packSequences]] placements by pure per-row
    * arithmetic plus one `explode(sequence(seq_start, seq_end))` — the
    * output adds O(sequences) rows to O(documents), no extra shuffle
    * beyond the packing's own prefix sum. Zero-token documents occupy no
    * span and emit no row.
    *
    * @return (seq, doc_id, offset, len): document `doc_id` occupies
    *         `[offset, offset + len)` within sequence `seq`; per-seq
    *         offsets partition `[0, seqLen)` except in the final,
    *         possibly short, sequence
    */
  def sequenceSpans(df: DataFrame, idCol: String, tokenCol: String,
                    seqLen: Long, buckets: Int = 0): DataFrame =
    packSequences(df, idCol, tokenCol, seqLen, buckets)
      .filter(col("token_count") > 0)
      .withColumn("seq", explode(sequence(col("seq_start"), col("seq_end"))))
      .select(col("seq"), col("doc_id"),
        greatest(col("token_start") - col("seq") * seqLen, lit(0L))
          .as("offset"),
        (least(col("token_start") + col("token_count"),
            (col("seq") + 1) * seqLen) -
          greatest(col("token_start"), col("seq") * seqLen)).as("len"))

  /** Materialize the ACTUAL packed training rows: each fixed-length
    * sequence's token-id array, assembled from per-document slices in
    * placement order — what [[sequenceSpans]] describes, this builds.
    * The final sequence may be short; zero-token documents contribute
    * nothing.
    *
    * Shuffle budget (all carrying ids, never text): the packing prefix
    * sum's bucket exchange, one doc_id join of placements back to the
    * token arrays, and one exchange on `seq` to co-locate each
    * sequence's slices. Moving every token into its sequence once is the
    * irreducible cost of materialization; per-sequence assembly is a
    * sort_array over its ≤seqLen/1 + 2 slices, no window.
    *
    * @param tokensCol array column of per-document token ids (the
    *   [[graft.ext.Bpe.encodeDocs]] output shape)
    * @return (seq, ids) — ids.length == seqLen except the last sequence
    */
  def packTokenIds(df: DataFrame, idCol: String, tokensCol: String,
                   seqLen: Long, buckets: Int = 0): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("doc_id"),
        col(tokensCol).as("_toks"))
      .filter(col("doc_id").isNotNull && col("_toks").isNotNull)
      .withColumn("_tok_n", size(col("_toks")).cast("long"))
    // slim (doc_id, n) checkpoint — the sequenceTextsReleasable pattern:
    // packSequences scans its input THREE times (id bounds, bucket
    // subtotals, placement), and `tokensCol` is typically a full
    // tokenize/hash lambda (profiled at sf0.1: four ~0.5 s tokenize
    // stages per call, one per scan + the payload join). 16 B/row
    // checkpointed once caps the lambda at TWO evaluations: this count
    // pass and the payload join below. Blocks release on driver GC
    // (the unmanaged sequenceTexts convention).
    val slim = base.select("doc_id", "_tok_n").localCheckpoint()
    packSequences(slim, "doc_id", "_tok_n", seqLen, buckets)
      .join(base, "doc_id")
      .filter(col("token_count") > 0)
      .withColumn("seq", explode(sequence(col("seq_start"), col("seq_end"))))
      .select(col("seq"),
        // this slice's offset inside the sequence (assembly sort key) …
        greatest(col("token_start") - col("seq") * seqLen, lit(0L))
          .as("_off"),
        // … and the doc-local slice it carries
        slice(col("_toks"),
          (greatest(col("seq") * seqLen - col("token_start"), lit(0L)) + 1)
            .cast("int"),
          (least(col("token_start") + col("token_count"),
              (col("seq") + 1) * seqLen) -
            greatest(col("token_start"), col("seq") * seqLen)).cast("int"))
          .as("_slice"))
      .groupBy("seq")
      .agg(flatten(sort_array(collect_list(struct(col("_off"), col("_slice"))))
        .getField("_slice")).as("ids"))
  }

  /** Length-bucketed batch assignment, the inference/eval counterpart of
    * sequence packing: documents are grouped into length buckets
    * (bucket = tokens div bucketWidth) so every batch pads at most
    * bucketWidth-1 tokens per document, then each bucket is chopped into
    * fixed-size batches in deterministic md5(salt ++ id) order — a
    * reproducible within-bucket shuffle, so batches are unbiased samples
    * of their bucket rather than id-correlated runs.
    *
    * Scale shape: bucket assignment is per-row arithmetic; the
    * within-bucket rank runs on [[GlobalOrder.rankByHexKeyWithin]] —
    * a web corpus concentrates in a handful of length buckets, and the
    * 256-way hash sub-bucketing keeps those dominant buckets ranking at
    * full parallelism instead of one task per bucket.
    *
    * @return input columns + (bucket, bucket_pos, batch_idx, slot)
    */
  def lengthBuckets(df: DataFrame, idCol: String, tokenCol: String,
                    bucketWidth: Long, batchSize: Long,
                    salt: String): DataFrame = {
    require(bucketWidth > 0 && batchSize > 0,
      s"need positive bucketWidth/batchSize, got $bucketWidth/$batchSize")
    val clobbered = Seq("bucket", "bucket_pos", "batch_idx", "slot")
      .filter(n => df.columns.exists(_.equalsIgnoreCase(n)))
    require(clobbered.isEmpty,
      s"lengthBuckets adds ${clobbered.mkString("/")}; rename existing columns")
    // null ids/token counts excluded (engine null-id convention);
    // negative counts have no length bucket
    val base = df
      .filter(col(idCol).isNotNull && col(tokenCol).isNotNull &&
        col(tokenCol) >= 0)
      .withColumn("bucket",
        expr(s"cast(`$tokenCol` as bigint) div ${bucketWidth}L"))
    GlobalOrder.rankByHexKeyWithin(base, Seq("bucket"),
        md5(concat(lit(salt), col(idCol).cast("string"))),
        Seq(col(idCol)), "bucket_pos")
      .withColumn("batch_idx", expr(s"bucket_pos div ${batchSize}L"))
      .withColumn("slot", pmod(col("bucket_pos"), lit(batchSize)))
  }
}
