package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Similarity search over embedding columns (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exact baseline (linear scan, perfectly
  * parallel, no shuffle — the query vector is broadcast). The scale path is
  * random-hyperplane LSH bucketing: 16-bit signatures computed per row,
  * candidates restricted to nearby buckets, exact re-rank on candidates
  * only. All expression-level (`zip_with`/`aggregate` fold into
  * WholeStageCodegen); no UDFs.
  */
object Similarity {

  /** Loud refusal when a frame that is about to BROADCAST exceeds its
    * declared bound — counting stops at cap+1 (limit-pushed), so the
    * check costs O(cap) even against a corpus-sized frame, instead of
    * letting the broadcast become an executor OOM or a de-facto
    * cartesian join. The rows are collected (zero columns each) rather
    * than counted: a count over the limit would put the limit inside a
    * whole-stage-codegen stage, whose code is compiled afresh per call.
    */
  private def requireDriverBounded(frame: DataFrame, cap: Int,
                                   op: String): Unit = {
    val n = frame.select().limit(cap + 1).collect().length
    require(n <= cap,
      s"$op broadcasts its query/anchor frame, which has > $cap rows — " +
        "this would be a broadcast OOM or a de-facto cartesian at corpus " +
        "scale; mine in driver-bounded batches (or raise the cap " +
        "explicitly if the executors are sized for it)")
  }

  /** Dot product of two array<double> columns (sequential fold — the same
    * evaluation order DuckDB uses, so oracles match bit-for-bit).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine with the zero-vector convention cos(0, x) = 0: a NaN (0/0)
    * would sort ABOVE every real similarity in descending top-k order,
    * putting garbage rows first.
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Codegen'd native cosine (graft.functions.CosineSimilarity) — the
    * fast path for similarity scans. Identical evaluation order to
    * `cosine`, so results are bit-for-bit the same; requires a session
    * built by GraftSession (or spark.sql.extensions=GraftExtensions).
    */
  def cosineNative(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** The `cos` column every similarity ranking orders by: the native
    * cosine rounded to 6 places, after failing fast on a session that
    * lacks the engine's extension.
    */
  private def cosScore(spark: SparkSession, a: Column, b: Column): Column = {
    graft.functions.GraftExtensions.requireIn(spark)
    round(cosineNative(a, b), 6).as("cos")
  }

  /** Unit-normalize a vector against a PRECOMPUTED norm column. Callers
    * materialize the norm once per row (`withColumn("nrm", l2Norm(v))`)
    * — inlining `l2Norm` in the lambda would re-evaluate the O(d) fold
    * per element (interpreted higher-order expressions get no common-
    * subexpression elimination → O(d²) per row). Zero vectors pass
    * through unchanged (normalizing them is undefined); pre-normalized
    * corpora turn cosine into a plain dot product downstream.
    */
  def l2Normalize(vec: Column, norm: Column): Column =
    when(norm === 0.0, vec).otherwise(transform(vec, x => x / norm))

  /** Scalar twin of `cosine` with identical evaluation order (sequential
    * left-to-right folds, dot/(sqrt(na)*sqrt(nb))) — bit-for-bit the same
    * result, used on hot pairwise paths where interpreted array
    * expressions are too slow.
    */
  def cosineScalar(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 // zero-vector convention, not NaN
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Shared exact re-rank tail: broadcast the single-row query vector,
    * score with the native codegen cosine, global top-k via
    * TakeOrderedAndProject (never a full sort).
    */
  private def rerankTopK(candidates: DataFrame, queryDf: DataFrame,
                         idCol: String, vecCol: String, k: Int): DataFrame =
    candidates.crossJoin(broadcast(queryDf))
      .select(col(idCol),
        cosScore(candidates.sparkSession, col(vecCol).cast("array<double>"), col("qv")))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)

  /** Exact top-k nearest neighbours of one stored vector by cosine.
    * The single-row query side is broadcast; the scan side never shuffles
    * (TakeOrderedAndProject handles the global top-k).
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>").as("qv"))
    rerankTopK(emb.filter(col(idCol) =!= queryId), q, idCol, vecCol, k)
  }

  /** Exact top-k for a BATCH of query vectors in ONE corpus scan — the
    * recall-evaluation / batch-serving shape (Q probe queries against the
    * corpus), vs one scan per query with [[bruteForceTopK]]. The query
    * frame broadcasts (Q × d doubles); scoring is the codegen cosine over
    * the streamed corpus; per-query top-k is the map-side-combinable
    * bounded aggregate, so the exchange carries at most k rows per
    * (query, input partition) — the scan cost is amortized across every
    * query in the batch. Matching ids (query vector present in the
    * corpus) are excluded, mirroring the single-query APIs.
    *
    * @return (query_id, id, cos) — cos rounded to 6 dp, best-first order
    *         not guaranteed (sort downstream if needed)
    */
  def bruteForceTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
                          queries: DataFrame, qIdCol: String,
                          qVecCol: String, k: Int,
                          maxQueries: Int = 65536): DataFrame = {
    val spark = emb.sparkSession
    requireDriverBounded(queries, maxQueries, "bruteForceTopKBatch")
    val q = queries.select(col(qIdCol).cast("long").as("query_id"),
      col(qVecCol).cast("array<double>").as("_q_v"))
    val scored = emb
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("_c_v"))
      .crossJoin(broadcast(q))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        cosScore(spark, col("_c_v"), col("_q_v")))
    topKPerGroup(scored, "query_id", "id", "cos", k, "id", "cos")
  }

  /** Hard-negative mining for contrastive training: each anchor's top-k
    * most-similar corpus vectors with a DIFFERENT label — the "looks
    * maximally alike, is labeled apart" rows a contrastive or reranker
    * objective trains against. Same one-scan shape as
    * [[bruteForceTopKBatch]] (broadcast anchors, codegen cosine,
    * map-side-truncated top-k — shuffle scales with k × anchors, never
    * the corpus), plus the label-exclusion predicate pushed before
    * scoring so excluded rows never enter the aggregate.
    *
    * The anchor frame must be driver-bounded (it broadcasts): a
    * corpus-sized `queries` would silently become a broadcast OOM or a
    * de-facto cartesian, so counts above `maxAnchors` refuse LOUDLY —
    * mine corpus-scale anchor sets in batches, or via the IVF/LSH paths.
    *
    * @return (query_id, id, cos) — per anchor, its k hardest negatives
    */
  def hardNegativesBatch(emb: DataFrame, idCol: String, vecCol: String,
                         labelCol: String, queries: DataFrame,
                         qIdCol: String, qVecCol: String, qLabelCol: String,
                         k: Int, maxAnchors: Int = 65536): DataFrame = {
    val spark = emb.sparkSession
    requireDriverBounded(queries, maxAnchors, "hardNegativesBatch")
    val q = queries.select(col(qIdCol).cast("long").as("query_id"),
      col(qVecCol).cast("array<double>").as("_q_v"),
      col(qLabelCol).as("_q_label"))
    val scored = emb
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("_c_v"),
        col(labelCol).as("_c_label"))
      .crossJoin(broadcast(q))
      .filter(col("_c_label") =!= col("_q_label"))
      .select(col("query_id"), col("id"),
        cosScore(spark, col("_c_v"), col("_q_v")))
    topKPerGroup(scored, "query_id", "id", "cos", k, "id", "cos")
  }

  /** Deterministic pseudo-random hyperplane component g(plane, dim) in
    * [-1, 1] (pmod yields 0..2000, so both endpoints are reachable),
    * derived from the engine-wide 60-bit md5 convention
    * (Dedup.md5Hash60Col) so signatures are reproducible without shipping
    * plane matrices AND re-derivable by any engine with md5 — the same
    * auditability contract as the fingerprint/SimHash family (an external
    * SQL system can replay the full LSH pipeline, planes included).
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    (pmod(Dedup.md5Hash60Col(
      concat(lit(plane.toString), lit("_"), dim.cast("string"))),
      lit(2001L)).cast("double") - 1000.0) / 1000.0

  /** `nBits`-bit random-hyperplane signature of a vector: bit p is the sign
    * of <v, g_p>. Cosine-similar vectors agree on most bits (SimHash for
    * real vectors).
    */
  def rhpSignature(vec: Column, nBits: Int = 16): Column =
    (0 until nBits).map { p =>
      val proj = aggregate(zip_with(vec,
        transform(sequence(lit(0), size(vec) - 1), d => planeComponent(p, d)),
        (x, g) => x * g), lit(0.0), (acc, v) => acc + v)
      // coalesce pins the EMPTY-vector case to the scalar twin's result:
      // sequence(0, -1) yields [0, -1] there, zip_with null-pads, and the
      // fold would go NULL → bit dropped, where the scalar's dot = 0.0
      // sets every bit — a signature mismatch that would point the IVF
      // probe at the wrong cells for that row
      when(coalesce(proj, lit(0.0)) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Scalar twin of [[planeComponent]]: same 60-bit md5 evaluated
    * off-plan, so scalar and expression signatures agree bit for bit
    * (RhpParity test pins this).
    */
  private[ext] def planeComponentScalar(plane: Int, dim: Int): Double =
    (java.lang.Math.floorMod(
      Dedup.md5Hash60(plane.toString + "_" + dim.toString), 2001L)
      .toDouble - 1000.0) / 1000.0

  /** Scalar signature over precomputed planes (performance path: the
    * expression form evaluates nBits interpreted higher-order dot products
    * per row — one scalar pass with a cached plane matrix is what the
    * full-corpus signing stage needs). Accumulation order matches the
    * expression fold, so results are identical.
    */
  private[ext] def rhpSignatureScalar(v: Array[Double],
                                      planes: Array[Array[Double]]): Long = {
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      val g = planes(p)
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * g(d); d += 1 }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** One scalar cached-plane signing pass over a frame: (id, vector,
    * cell) rows. ONE implementation shared by the index build, the
    * cell-blocked knn join, and the batch probes, so the RhpParity
    * convention cannot drift between copies. Null-id/vector rows are
    * dropped (engine null-id convention).
    */
  private[ext] def signCells(df: DataFrame, idCol: String, vecCol: String,
                             cellBits: Int, idOut: String, vecOut: String,
                             cellOut: String): DataFrame = {
    // 0 bits would build an empty plane matrix (and AIOOBE on the cache-
    // rebuild guard); >62 would shift past the sign bit of the long cell
    require(cellBits > 0 && cellBits <= 62,
      s"cellBits must be in [1, 62], got $cellBits")
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        var planes: Array[Array[Double]] = null
        it.map { case (id, v) =>
          if (planes == null || planes(0).length < v.length)
            planes = Array.tabulate(cellBits, v.length)(planeComponentScalar)
          (id, v, rhpSignatureScalar(v, planes))
        }
      }
      .toDF(idOut, vecOut, cellOut)
  }

  /** Shared per-group bounded top-k tail: the native map-side-combinable
    * `graft_topk_by_score` aggregate (NaN-worst ordering; null ids and
    * scores skipped, like SQL aggregates skip nulls), exploded to
    * (groupCol, idOut, scoreOut).
    */
  private def topKPerGroup(scored: DataFrame, groupCol: String,
                           idCol: String, scoreCol: String, k: Int,
                           idOut: String, scoreOut: String): DataFrame =
    scored.groupBy(groupCol)
      .agg(call_function("graft_topk_by_score", col(idCol), col(scoreCol), lit(k)).as("_nn"))
      .select(col(groupCol), explode(col("_nn")).as("_n"))
      .select(col(groupCol), col("_n.id").as(idOut),
        col("_n.score").as(scoreOut))

  /** Approximate top-k via LSH bucketing: candidates are vectors whose
    * signature is within `maxHamming` bits of the query signature (checked
    * with bit_count(xor) after a broadcast of the single query signature),
    * then exact cosine re-ranks the candidates. At cluster scale the
    * signature comparison prunes the scan to a small candidate set; recall
    * is tunable via nBits/maxHamming.
    *
    * Tuning note (measured on the probe corpus): RHP bit-agreement is
    * 1 - θ/π, so WEAKLY similar neighbours (cos ~0.3 → ~62% agreement)
    * sit close to the random-pair baseline (50%) and need a wide radius —
    * 32 bits at radius 14 gives 9/10 recall while pruning ~70% of the
    * corpus; radius bits/2 reaches 10/10 but admits half the corpus. For
    * such low-contrast embedding spaces prefer the IVF path (ivfTopK),
    * whose coarse quantizer prunes by partition instead.
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, nBits: Int = 32,
              maxHamming: Int = 14): DataFrame = {
    // one signing pass, shared with the IVF/cell family — reusing
    // signCells (instead of an inline copy of the same mapPartitions)
    // keeps the RhpParity convention in one place and inherits its null
    // guard and bits-range validation
    val signed = signCells(emb, idCol, vecCol, nBits, idCol, "v", "sig")
    val q = signed.filter(col(idCol) === queryId)
      .select(col("v").as("qv0"), col("sig").as("qsig"))
    val candidates = signed.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .filter(bit_count(col("sig").bitwiseXOR(col("qsig"))) <= maxHamming)
      .select(col(idCol), col("v"))
    rerankTopK(candidates, q.select(col("qv0").as("qv")), idCol, "v", k)
  }

  /** Blocked self-join candidate frame shared by the pairwise operators:
    * (id_a, va, id_b, vb) within each block. `orderedPairs=true` yields
    * each unordered pair once (id_a < id_b); false yields both directions
    * (id_a != id_b). One place to fix pair generation (skew handling,
    * degenerate-vector filtering) for every pairwise operator.
    */
  private[ext] def blockedPairs(emb: DataFrame, idCol: String, vecCol: String,
                                blockCol: String,
                                orderedPairs: Boolean): DataFrame = {
    val v = emb.select(col(blockCol).as("block"), col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val a = v.select(col("block"), col("id").as("id_a"), col("v").as("va"))
    val b = v.select(col("block"), col("id").as("id_b"), col("v").as("vb"))
    a.join(b, Seq("block"))
      .filter(if (orderedPairs) col("id_a") < col("id_b")
              else col("id_a") =!= col("id_b"))
  }

  /** k-NN similarity JOIN: the top-k neighbours of EVERY vector within a
    * blocking key (label/LSH cell) — the batch workload of embedding
    * curation, vs the single-query top-k above. Ranking happens on the
    * rounded score with an id tiebreak so results are deterministic and
    * oracle-reproducible. Pair space is bounded by the blocks; at corpus
    * scale the blocking key is an LSH/IVF cell rather than a label (see
    * [[knnJoinByCell]]).
    *
    * Scale shape: the top-k selection is a bounded-heap AGGREGATE
    * (`graft_topk_by_score`), not a row_number window — partial
    * aggregation truncates each group to k rows on the map side, so the
    * exchange carries at most k rows per (vector, input partition)
    * instead of every scored pair. For blocks of B vectors that is k vs
    * B rows per vector through the shuffle; identical winners (same
    * score-desc, id-asc order, ties included).
    */
  def knnJoin(emb: DataFrame, idCol: String, vecCol: String,
              blockCol: String, k: Int): DataFrame = {
    val pairs = blockedPairs(emb, idCol, vecCol, blockCol, orderedPairs = false)
      .select(col("id_a"), col("id_b"),
        cosScore(emb.sparkSession, col("va"), col("vb")))
    topKPerGroup(pairs, "id_a", "id_b", "cos", k, "id_b", "cos")
  }

  /** k-NN join with NO application blocking key — the corpus-scale form:
    * each vector's block is derived from the vector itself (its
    * `cellBits`-bit RHP cell), bounding the pair space to within-cell
    * pairs exactly as [[knnJoin]] does with a label. Approximate by
    * construction (cross-cell neighbours are never compared — the same
    * trade every LSH/IVF method makes); recall rises as cellBits falls.
    * `sim_knn_join_cells` oracles this path end to end.
    */
  def knnJoinByCell(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int, cellBits: Int = 4): DataFrame =
    // scalar signing pass ([[signCells]]) — the expression form (ivfCell)
    // evaluates cellBits interpreted higher-order dot products per row,
    // and the self-join inside knnJoin evaluates its input subtree TWICE,
    // doubling that cost
    knnJoin(signCells(emb, idCol, vecCol, cellBits,
      idCol, "_knn_v", "_knn_cell"), idCol, "_knn_v", "_knn_cell", k)

  /** IVF-style coarse partitioning: assign each vector to the centroid-free
    * cell given by the top bits of its signature. Used to co-locate probable
    * neighbours (write-time `partitionBy(cell)`), turning ANN queries into
    * partition-pruned scans at scale.
    */
  def ivfCell(vec: Column, cellBits: Int = 8): Column =
    rhpSignature(vec, cellBits)

  /** Index layout versioning: the cell convention (md5-derived planes
    * since round 4, xxhash64 before) is baked into the data layout, so a
    * reader probing with a different convention would scan the wrong
    * partitions and return plausible-but-wrong neighbours. Each build
    * stamps a `_graft_ivf_meta` marker; each query verifies it. Indexes
    * written before the marker existed must be rebuilt (fail-fast, not
    * silently-wrong).
    */
  private val MetaFile = "_graft_ivf_meta"
  private[ext] val RhpLayoutV1 = "rhp-md5-v1"
  private[ext] val KmeansLayoutV1 = "kmeans-v1"

  private def writeMeta(spark: SparkSession, path: String,
                        kvs: (String, String)*): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(kvs.map { case (k, v) => s"$k=$v" }.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readMeta(spark: SparkSession, path: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
      text.linesIterator.filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
    }
  }

  private def requireLayout(spark: SparkSession, path: String,
                            layout: String, kvs: (String, String)*): Unit = {
    val meta = readMeta(spark, path)
    require(meta.nonEmpty,
      s"IVF index at $path has no $MetaFile marker — it predates the " +
        s"versioned layout (pre-round-4 plane convention). Rebuild it with " +
        s"ivfWrite/ivfKmeansWrite before querying.")
    (("layout" -> layout) +: kvs).foreach { case (k, expect) =>
      require(meta.get(k).contains(expect),
        s"IVF index at $path was built with $k=${meta.getOrElse(k, "?")} " +
          s"but this query expects $k=$expect — probing would scan the " +
          s"wrong partitions. Rebuild the index or match the parameters.")
    }
  }

  /** Materialize an embedding table partitioned by IVF cell. At corpus
    * scale this is the index build: one pass, hive-partitioned output.
    */
  def ivfWrite(emb: DataFrame, idCol: String, vecCol: String, path: String,
               cellBits: Int = 6): Unit = {
    // scalar signing pass ([[signCells]]): the expression form pays
    // cellBits interpreted higher-order dot products per row, and the
    // BUILD is exactly where that cost multiplies by the whole corpus.
    // Vectors land in the index widened to array<double>, the type every
    // reader casts to anyway.
    signCells(emb, idCol, vecCol, cellBits, idCol, vecCol, "ivf_cell")
      // co-locate each cell before the partitioned write: without this,
      // every task writes a sliver of every cell (tasks × cells small
      // files — the classic small-files trap as parallelism grows); with
      // it, file count tracks cell count regardless of cluster width
      .repartition(col("ivf_cell"))
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
    // marker AFTER the data write: overwrite mode clears the directory, so
    // a surviving marker implies the data alongside it is complete
    writeMeta(emb.sparkSession, path,
      "layout" -> RhpLayoutV1, "cellBits" -> cellBits.toString)
  }

  /** Incremental IVF index maintenance — the ANN analog of the ingest
    * pipeline's incremental MinHash band index: assign ONLY the new batch
    * to cells and append it into the existing cell-partitioned layout,
    * O(batch) work however large the indexed corpus is. The cell
    * convention is immutable per index, so queries see old + new rows
    * with unchanged semantics the moment the append lands: a hash-plane
    * index signs the batch with the same md5-derived planes (deterministic
    * in cellBits, read from the layout marker — never caller-supplied, so
    * the convention cannot fork); a k-means index assigns against its
    * PERSISTED centroids — standard IVF practice: the coarse quantizer is
    * frozen after training, and centroid drift is a REBUILD decision
    * (recall on new data is measurable via [[recallAtK]]), not an append
    * decision. The batch must carry the same columns the original build
    * stored (for k-means indexes, which keep the caller's schema).
    *
    * Each append adds at most one file per touched cell; a long-running
    * ingest should run [[ivfCompact]] on a cadence so per-cell file
    * counts stay bounded (same incremental bin-packing discipline as the
    * ingest tables).
    */
  def ivfAppend(newEmb: DataFrame, idCol: String, vecCol: String,
                path: String): Unit = {
    val spark = newEmb.sparkSession
    val meta = readMeta(spark, path)
    require(meta.nonEmpty,
      s"no versioned IVF index at $path — build with ivfWrite/ivfKmeansWrite first")
    meta.get("layout") match {
      case Some(RhpLayoutV1) =>
        val cellBits = meta.getOrElse("cellBits",
          throw new IllegalStateException(s"index at $path lacks cellBits")).toInt
        signCells(newEmb, idCol, vecCol, cellBits, idCol, vecCol, "ivf_cell")
          .repartition(col("ivf_cell"))
          .write.mode("append").partitionBy("ivf_cell").parquet(path)
      case Some(KmeansLayoutV1) =>
        val centroids = ivfKmeansCentroids(spark, path)
        val assigned = Clustering.assign(newEmb, idCol, vecCol, centroids)
          .select(col(idCol), col("cluster").as("ivf_cell"))
        newEmb.join(assigned, idCol)
          .repartition(col("ivf_cell"))
          .write.mode("append").partitionBy("ivf_cell").parquet(path)
      case other => throw new IllegalStateException(
        s"unknown IVF layout marker at $path: $other")
    }
  }

  /** Bin-pack an IVF index's per-cell small-file tail (each [[ivfAppend]]
    * adds a file per touched cell). Delegates to the storage layer's
    * incremental compaction with the cell as the partition column —
    * already-compacted files cross by metadata-only renames, and the
    * `_graft_*` sidecars (layout marker, centroids) survive the atomic
    * swap as table props, so queries keep verifying the layout after.
    */
  def ivfCompact(spark: SparkSession, path: String,
                 smallThreshold: Long = 32L * 1024 * 1024,
                 targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val store = new graft.store.TableStore(spark, p.getParent.toString)
    store.compactIncremental(p.getName, smallThreshold, targetBytes,
      partitionCols = Seq("ivf_cell"))
    ()
  }

  /** All cell ids within `maxHamming` bit flips of `center` — generated
    * by choosing flip positions (O(C(bits, <=h)) instead of scanning all
    * 2^bits cells, which matters once cellBits grows past toy sizes).
    */
  private[ext] def cellsWithinHamming(center: Long, cellBits: Int,
                                      maxHamming: Int): Seq[Long] = {
    def choose(from: Int, left: Int, acc: Long): Seq[Long] =
      if (left == 0) Seq(acc)
      else (from until cellBits).flatMap(b =>
        choose(b + 1, left - 1, acc ^ (1L << b)))
    (0 to math.min(maxHamming, cellBits)).flatMap(h => choose(0, h, center)).distinct
  }

  /** ANN top-k over an IVF-partitioned table: probe only the cells within
    * `maxHamming` signature bits of the query's cell — the small IN-filter
    * constant-folds into partition pruning, so the scan touches a fraction
    * of the corpus. `excludeId` drops the query's own row when the query
    * vector comes from the indexed corpus (matching the sibling APIs).
    */
  def ivfTopK(spark: org.apache.spark.sql.SparkSession, path: String,
              idCol: String, vecCol: String, queryVec: Array[Double],
              k: Int, cellBits: Int = 6, maxHamming: Int = 2,
              excludeId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    requireLayout(spark, path, RhpLayoutV1, "cellBits" -> cellBits.toString)
    // consistent cell computation: evaluate the same Catalyst expression
    // the writer used, on the query vector
    val cellOfQuery = Seq(queryVec).toDF("v")
      .select(ivfCell(col("v"), cellBits).as("c")).head().getLong(0)
    val probeCells = cellsWithinHamming(cellOfQuery, cellBits, maxHamming)
    val base = spark.read.parquet(path)
      .filter(col("ivf_cell").isin(probeCells: _*))
    val candidates = excludeId.fold(base)(id => base.filter(col(idCol) =!= id))
    rerankTopK(candidates, Seq(queryVec).toDF("qv"), idCol, vecCol, k)
  }

  /** Batch ANN over an IVF-partitioned table: every query's Hamming-ball
    * probe cells are generated in one scalar pass, their UNION prunes the
    * index scan to the touched partitions (one pruned read for the whole
    * batch), and a broadcast (query, cell) frame routes each surviving
    * candidate to exactly the queries probing its cell. Per-query top-k
    * is the bounded map-side aggregate. Scales as one pruned scan + k
    * rows per (query, partition) through the shuffle — per-query scans
    * would multiply the read cost by the batch size.
    */
  def ivfTopKBatch(spark: SparkSession, path: String, idCol: String,
                   vecCol: String, queries: DataFrame, qIdCol: String,
                   qVecCol: String, k: Int, cellBits: Int = 6,
                   maxHamming: Int = 2): DataFrame = {
    import spark.implicits._
    require(cellBits > 0 && cellBits <= 62,
      s"cellBits must be in [1, 62], got $cellBits")
    requireLayout(spark, path, RhpLayoutV1, "cellBits" -> cellBits.toString)
    // Q query rows collected ONCE (the batch is small by definition);
    // cells and Hamming balls derive driver-side, so the routing frame
    // and the IN-filter come from the same single evaluation of the
    // query input — no second scan, no determinism hazard
    val qRows = queries
      .filter(col(qIdCol).isNotNull && col(qVecCol).isNotNull)
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    var planes: Array[Array[Double]] = null
    val qCellRows = qRows.toSeq.flatMap { case (id, v) =>
      if (planes == null || planes(0).length < v.length)
        planes = Array.tabulate(cellBits, v.length)(planeComponentScalar)
      cellsWithinHamming(rhpSignatureScalar(v, planes), cellBits, maxHamming)
        .map(c => (id, v, c))
    }
    val qCells = qCellRows.toDF("query_id", "_q_v", "ivf_cell")
    // the small IN-filter constant-folds into partition pruning
    val probeCells = qCellRows.map(_._3).distinct
    val scan = spark.read.parquet(path)
      .filter(col("ivf_cell").isin(probeCells: _*))
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("_c_v"), col("ivf_cell"))
    val scored = scan.join(broadcast(qCells), Seq("ivf_cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        cosScore(spark, col("_c_v"), col("_q_v")))
    topKPerGroup(scored, "query_id", "id", "cos", k, "id", "cos")
  }

  /** Recall@k of an approximate ANN result against the exact one — THE
    * quality metric every ANN deployment tunes against (nProbe,
    * maxHamming, cellBits all trade recall for scan fraction). Both
    * inputs are (query_id, id, ...) neighbour lists, e.g.
    * [[ivfTopKBatch]] vs [[bruteForceTopKBatch]]; `k` is the exact
    * side's per-query size. Queries the approximate side missed entirely
    * score 0, not absent.
    *
    * @return (query_id, n_hits, recall) — recall rounded to 4 dp
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val hits = exact.select("query_id", "id")
      .join(approx.select("query_id", "id"), Seq("query_id", "id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 4)
          .as("recall"))
  }

  /** IVF index with LEARNED centroids — the standard IVF-flat design
    * (Lloyd-trained coarse quantizer), stronger than the hash-cell variant
    * above when the embedding space is low-contrast (cells follow the
    * data's density instead of fixed hyperplanes). Build = k-means, then
    * one partitioned write. The centroid matrix (k×d doubles) is the
    * index's metadata: it is both returned AND persisted inside the index
    * directory, so any later session — or another engine — can serve the
    * index with [[ivfKmeansCentroids]] + the centroid-free query
    * overloads, without re-learning or hand-carrying the matrix.
    */
  def ivfKmeansWrite(emb: DataFrame, idCol: String, vecCol: String,
                     path: String, k: Int,
                     maxIters: Int = 5): Array[Array[Double]] = {
    val (centroids, assigned) = Clustering.kmeans(emb, idCol, vecCol, k, maxIters)
    emb.join(assigned.select(col(idCol), col("cluster").as("ivf_cell")), idCol)
      // same small-files guard as ivfWrite: file count tracks cell count,
      // not tasks x cells
      .repartition(col("ivf_cell"))
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
    // stamp the ACHIEVED centroid count, not the requested k: a small
    // corpus can yield fewer centroids, and queries verify against the
    // centroid array they actually hold
    writeMeta(emb.sparkSession, path,
      "layout" -> KmeansLayoutV1, "k" -> centroids.length.toString)
    writeCentroids(emb.sparkSession, path, centroids)
    centroids
  }

  /** Centroids persist as one tiny text file in the index directory
    * (k rows × d full-precision doubles, '%a' hex float rendering so the
    * round trip is bit-exact — decimal rendering would perturb cell
    * assignment for boundary vectors). Written AFTER the data + marker:
    * a visible centroid file implies a complete index around it.
    */
  private val CentroidFile = "_graft_ivf_centroids"

  private def writeCentroids(spark: SparkSession, path: String,
                             centroids: Array[Array[Double]]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, CentroidFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(centroids
      .map(_.map(d => java.lang.Double.toHexString(d)).mkString(","))
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Load the centroid matrix persisted by [[ivfKmeansWrite]] — the
    * cross-session half of the k-means IVF lifecycle. Fails fast (with
    * the rebuild hint) on indexes written before centroid persistence
    * existed rather than silently returning nothing.
    */
  def ivfKmeansCentroids(spark: SparkSession, path: String): Array[Array[Double]] = {
    requireLayout(spark, path, KmeansLayoutV1)
    val p = new org.apache.hadoop.fs.Path(path, CentroidFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p),
      s"IVF index at $path has no $CentroidFile — it predates centroid " +
        "persistence. Rebuild it with ivfKmeansWrite (or pass the centroid " +
        "matrix explicitly).")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val centroids = text.linesIterator.filter(_.nonEmpty)
      .map(_.split(",").map(java.lang.Double.parseDouble)).toArray
    val meta = readMeta(spark, path)
    require(meta.get("k").contains(centroids.length.toString),
      s"IVF index at $path stamps k=${meta.getOrElse("k", "?")} but the " +
        s"centroid file holds ${centroids.length} rows — the index is " +
        "inconsistent; rebuild it.")
    centroids
  }

  /** [[ivfKmeansTopK]] with the centroids loaded from the index itself. */
  def ivfKmeansTopK(spark: SparkSession, path: String, idCol: String,
                    vecCol: String, queryVec: Array[Double], k: Int,
                    nProbe: Int, excludeId: Option[Long]): DataFrame =
    ivfKmeansTopK(spark, path, idCol, vecCol,
      ivfKmeansCentroids(spark, path), queryVec, k, nProbe, excludeId)

  /** [[ivfKmeansTopKBatch]] with the centroids loaded from the index. */
  def ivfKmeansTopKBatch(spark: SparkSession, path: String, idCol: String,
                         vecCol: String, queries: DataFrame, qIdCol: String,
                         qVecCol: String, k: Int, nProbe: Int): DataFrame =
    ivfKmeansTopKBatch(spark, path, idCol, vecCol,
      ivfKmeansCentroids(spark, path), queries, qIdCol, qVecCol, k, nProbe)

  /** Batch ANN over a k-means IVF table — [[ivfTopKBatch]]'s learned-cell
    * twin: per query the `nProbe` nearest centroids are ranked on the
    * driver (Q × cells × d flops — negligible), the union of probed
    * cells prunes ONE scan, a broadcast (query, cell) frame routes
    * candidates, and the bounded top-k aggregate ranks per query.
    */
  def ivfKmeansTopKBatch(spark: SparkSession, path: String, idCol: String,
                         vecCol: String, centroids: Array[Array[Double]],
                         queries: DataFrame, qIdCol: String, qVecCol: String,
                         k: Int, nProbe: Int = 2): DataFrame = {
    import spark.implicits._
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    requireLayout(spark, path, KmeansLayoutV1, "k" -> centroids.length.toString)
    // bounded collect: Q query vectors (the batch is by definition small
    // relative to the corpus); centroid ranking happens driver-side
    val qRows = queries
      .filter(col(qIdCol).isNotNull && col(qVecCol).isNotNull)
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val qCellRows = qRows.toSeq.flatMap { case (id, v) =>
      centroids.zipWithIndex
        .map { case (c, i) => (Clustering.dist2(v, c), i) }
        .sortBy(identity).take(nProbe)
        .map { case (_, cell) => (id, v, cell.toLong) }
    }
    val qCells = qCellRows.toDF("query_id", "_q_v", "ivf_cell")
    // distinct on the driver-local rows — a distinct().collect() here
    // would launch a Spark job to dedup cells the driver already holds
    val probeCells = qCellRows.map(_._3).distinct
    val scan = spark.read.parquet(path)
      .filter(col("ivf_cell").isin(probeCells: _*))
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("_c_v"), col("ivf_cell"))
    val scored = scan.join(broadcast(qCells), Seq("ivf_cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        cosScore(spark, col("_c_v"), col("_q_v")))
    topKPerGroup(scored, "query_id", "id", "cos", k, "id", "cos")
  }

  /** ANN top-k over a k-means IVF table: rank the centroids by distance to
    * the query ON THE DRIVER (k×d flops — negligible), then scan only the
    * `nProbe` nearest cells; the small IN-filter constant-folds into
    * partition pruning. Exact cosine re-ranks the survivors. Recall is
    * tuned by nProbe exactly as in FAISS-style IVF-flat.
    */
  def ivfKmeansTopK(spark: SparkSession, path: String, idCol: String,
                    vecCol: String, centroids: Array[Array[Double]],
                    queryVec: Array[Double], k: Int, nProbe: Int = 2,
                    excludeId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    requireLayout(spark, path, KmeansLayoutV1, "k" -> centroids.length.toString)
    val probeCells = centroids.zipWithIndex
      .map { case (c, i) => (Clustering.dist2(queryVec, c), i) }
      .sortBy(identity).take(nProbe).map(_._2.toLong)
    val base = spark.read.parquet(path)
      .filter(col("ivf_cell").isin(probeCells: _*))
    val candidates = excludeId.fold(base)(id => base.filter(col(idCol) =!= id))
    rerankTopK(candidates, Seq(queryVec).toDF("qv"), idCol, vecCol, k)
  }
}
