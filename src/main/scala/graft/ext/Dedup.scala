package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** [EXT] Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH (Broder, "On the resemblance and containment of
  * documents", 1997), SimHash (Charikar, "Similarity estimation
  * techniques from rounding algorithms", STOC 2002), and exact n-gram
  * Jaccard. No counterpart in the reference (its ingest happily
  * re-processes duplicate files — SURVEY §2.10 delivery note); these are
  * the north-star additions.
  *
  * Scale design: every operator is either per-row expression work (signature
  * computation — linear, embarrassingly parallel) or an inverted-index /
  * bucket join keyed so that the shuffle carries only (key, id) pairs, never
  * document bodies. Candidate generation is always blocked (LSH band,
  * SimHash band, or an application blocking key) so the pair space stays
  * near-linear instead of quadratic — the property that matters at 100 TB.
  */
object Dedup {

  /** Distinct n-token shingles of a token array (empty when too short). */
  def shingles(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        j => concat_ws(" ", slice(toks, j + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** Exact dedup by content: one surviving (minimum) id per distinct key
    * plus the duplicate count. `key` is typically the raw text or a
    * normalized/hashed form of it.
    */
  def exactGroups(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("content_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("dup_cnt"))

  private val MinhashPrime = 1000000007L

  /** MinHash signature (k permutations) over a shingle array. Each
    * permutation is an affine rehash of the shingle's (mod-reduced) xxhash64;
    * array_min over the rehashes is the classic min-wise estimator. Pure
    * expression: one pass to hash shingles, k cheap passes for the minima.
    * All intermediate products stay within long range (ANSI-mode safe).
    */
  def minhashSignature(shingleCol: Column, k: Int = 32): Column = {
    val hs = transform(shingleCol, s => pmod(xxhash64(s), lit(MinhashPrime)))
    transform(sequence(lit(0), lit(k - 1)), i =>
      when(size(hs) > 0,
        array_min(transform(hs, h =>
          pmod(h * (i * 2 + 1) + i * lit(2654435761L), lit(MinhashPrime)))))
        .otherwise(lit(Long.MaxValue)))
  }

  /** LSH banding: (id, band, bandKey) rows — b bands of r signature slots,
    * each band keyed by a hash of its slice. Docs sharing any band key are
    * candidate near-duplicates.
    */
  def lshBands(df: DataFrame, id: Column, sig: Column,
               bands: Int, rowsPerBand: Int): DataFrame = {
    val bandIdx = explode(sequence(lit(0), lit(bands - 1)))
    df.select(id.as("doc_id"), sig.as("sig"))
      .withColumn("band", bandIdx)
      .select(col("doc_id"), col("band"),
        xxhash64(col("band"),
          concat_ws(",", transform(slice(col("sig"),
            col("band") * rowsPerBand + 1, lit(rowsPerBand)), _.cast("string"))))
          .as("band_key"))
  }

  /** Candidate pairs from LSH bands (id_a < id_b, distinct). The join is
    * keyed on (band, band_key) so it shuffles only slim band rows.
    */
  def lshCandidatePairs(bandsDf: DataFrame): DataFrame = {
    val a = bandsDf.select(col("band"), col("band_key"), col("doc_id").as("id_a"))
    val b = bandsDf.select(col("band"), col("band_key"), col("doc_id").as("id_b"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard between two distinct-shingle arrays. The intersection
    * is computed ONCE and reused — interpreted array expressions get no
    * common-subexpression elimination, and this runs in the hot
    * exact-verify loop over every candidate pair.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }

  // -------------------------------------------------------------------
  // Scalar-side hashing (performance path)
  //
  // Spark's higher-order array expressions (transform/aggregate) are
  // interpreted, not codegen'd, and projection collapse can duplicate
  // their evaluation across exploded rows — for k-permutation MinHash and
  // 64-bit SimHash that turns one hash pass into dozens. The hot per-row
  // signature computations therefore run as typed map functions (single
  // pass per document, still zero-shuffle); DataFrame joins take over for
  // candidate generation where Catalyst adds value.
  // -------------------------------------------------------------------

  /** 64-bit string hash from two 32-bit murmur3 runs (deterministic,
    * seed-stable across JVMs).
    */
  private[graft] def hash64(s: String, seed: Int = 0): Long =
    (MurmurHash3.stringHash(s, seed).toLong << 32) |
      (MurmurHash3.stringHash(s, seed ^ 0x5bd1e995).toLong & 0xFFFFFFFFL)

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 60-bit token hash: the top 60 bits of md5, i.e. the first 15 hex
    * characters of the digest. Engine-INDEPENDENT by construction — any
    * system with md5 reproduces it (`CAST('0x' || substr(md5(t),1,15) AS
    * BIGINT)` in DuckDB, `conv(substring(md5(t),1,15),16,10)` in Spark
    * SQL), which matters for training-data lineage: content signatures
    * computed here can be re-derived and audited outside the engine.
    * Always non-negative (fits the sign bit headroom of a long).
    */
  private[graft] def md5Hash60(s: String): Long = {
    val d = md5Local.get()
    d.reset()
    val b = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (b(i) & 0xFFL); i += 1 }
    h >>> 4 // top 60 bits == first 15 hex chars
  }

  /** Column form of [[md5Hash60]] (codegen'd builtins only). */
  def md5Hash60Col(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  def shingleSet(text: String, n: Int = 3): Array[String] = {
    // limit -1 keeps trailing empty tokens, matching Spark's split()
    // semantics so the scalar and expression paths tokenize identically
    val toks = text.split(" ", -1)
    if (toks.length < n) Array.empty
    else {
      val set = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i + n <= toks.length) {
        val sb = new StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        set += sb.toString
        i += 1
      }
      set.toArray
    }
  }

  def minhashSig(sh: Array[String], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val h = math.floorMod(hash64(sh(i)), MinhashPrime)
      var p = 0
      while (p < k) {
        val v = math.floorMod(h * (p * 2 + 1) + p * 2654435761L, MinhashPrime)
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    sig
  }

  /** MinHash+LSH near-duplicate pairs, exact-verified: signatures and band
    * keys are computed in one scalar pass per document; candidates come
    * from the (band, key) equi-join; surviving pairs are re-checked with
    * exact Jaccard over the shingle sets, so precision is 1.0 and only
    * recall depends on the LSH parameters.
    */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 32, bands: Int = 8,
                          threshold: Double = 0.5): DataFrame = {
    require(k > 0 && bands > 0 && bands <= k && k % bands == 0,
      s"need 0 < bands <= k and k % bands == 0, got k=$k bands=$bands " +
        "(bands > k would give every doc an identical empty band key — " +
        "one quadratic candidate bucket; k % bands != 0 would silently " +
        "ignore trailing signature slots)")
    val spark = docs.sparkSession
    import spark.implicits._
    // null guard (engine convention: null id/text rows are skipped, not
    // job-killers) + localCheckpoint: the shingled frame feeds THREE
    // subtrees (banding + both join sides) and would otherwise re-read
    // the corpus and re-shingle it three times
    val withSh = docs.select(col(idCol).cast("long"), col(textCol))
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .map { case (id, text) => (id, shingleSet(text)) }
      .toDF("doc_id", "sh")
      .localCheckpoint()
    val banded = minhashBandsOfShingles(withSh, k, bands)
    val cands = lshCandidatePairs(banded)
    val sa = withSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val sb = withSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 4).as("jac"))
      .filter(col("jac") >= threshold)
  }

  private def minhashBandsOfShingles(withSh: DataFrame, k: Int,
                                     bands: Int): DataFrame = {
    val spark = withSh.sparkSession
    import spark.implicits._
    val r = k / bands
    withSh.as[(Long, Array[String])]
      .flatMap { case (id, sh) =>
        // shingle-less docs (< n tokens) must not band at all: they would
        // all share the degenerate all-MaxValue signature and collide into
        // one quadratic bucket; exact dedup handles identical short docs
        if (sh.isEmpty) Iterator.empty
        else {
          val sig = minhashSig(sh, k)
          (0 until bands).iterator.map { b =>
            (id, b, hash64(sig.slice(b * r, b * r + r).mkString(",") + "#" + b))
          }
        }
      }
      .toDF("doc_id", "band", "band_key")
  }

  /** MinHash LSH band rows (doc_id, band, band_key) for PERSISTING as an
    * incremental-dedup index: compute once per ingested document, store
    * next to the corpus, and check each new batch against it with
    * [[minhashCandidatesAgainst]] — the standard pattern when a 100 TB
    * corpus grows by appends and re-signing the whole history per batch
    * is not an option.
    */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 32, bands: Int = 8): DataFrame = {
    require(k > 0 && bands > 0 && bands <= k && k % bands == 0,
      s"need 0 < bands <= k and k % bands == 0, got k=$k bands=$bands")
    val spark = docs.sparkSession
    import spark.implicits._
    minhashBandsOfShingles(
      docs.select(col(idCol).cast("long"), col(textCol))
        .filter(col(idCol).isNotNull && col(textCol).isNotNull)
        .as[(Long, String)]
        .map { case (id, text) => (id, shingleSet(text)) }
        .toDF("doc_id", "sh"),
      k, bands)
  }

  /** Near-duplicate CANDIDATES of a new batch against a stored band index
    * (asymmetric LSH join): (new_id, indexed_id) pairs sharing at least
    * one band key. The band computation must use the same (k, bands) as
    * the stored index. Candidates are unverified — the caller re-checks
    * with exact Jaccard (or accepts LSH precision) because the indexed
    * side's text may live in cold storage.
    *
    * Scale shape: the new batch is small relative to the index, so its
    * band rows broadcast; the stored index is scanned once, never
    * shuffled.
    */
  def minhashCandidatesAgainst(newDocs: DataFrame, storedBands: DataFrame,
                               idCol: String, textCol: String,
                               k: Int = 32, bands: Int = 8): DataFrame =
    minhashCandidatesFromBands(
      minhashBands(newDocs, idCol, textCol, k, bands), storedBands)

  /** As [[minhashCandidatesAgainst]], with the new batch's band rows
    * already computed (callers that also persist the bands — e.g. the
    * ingest index maintenance — compute them once and reuse).
    */
  def minhashCandidatesFromBands(newBands: DataFrame,
                                 storedBands: DataFrame): DataFrame = {
    val nb = newBands
      .select(col("doc_id").as("new_id"), col("band"), col("band_key"))
    storedBands
      .select(col("doc_id").as("indexed_id"), col("band"), col("band_key"))
      .join(broadcast(nb), Seq("band", "band_key"))
      .filter(col("new_id") =!= col("indexed_id"))
      .select("new_id", "indexed_id").distinct()
  }

  /** Expression-form 60-bit SimHash over already-hashed tokens (hash with
    * [[md5Hash60Col]] so results agree with [[simhash60Scalar]] — the
    * ExtSpec parity test pins this). Majority vote per bit position;
    * single expression tree, zero shuffle; token hashes are materialized
    * once and reused by all 60 bit votes. The scalar path is the hot-loop
    * choice (higher-order expressions are interpreted); this form exists
    * for SQL-level composition.
    */
  def simhash60(hashedTokens: Column): Column =
    (0 until 60).map { j =>
      val vote = aggregate(hashedTokens, lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Scalar one-pass 60-bit SimHash (performance path — see the note on
    * interpreted higher-order expressions above). Uses the md5-derived
    * 60-bit token hash so the whole signature is reproducible outside the
    * engine (see [[md5Hash60]]); 60 well-mixed bits lose nothing material
    * versus 64 for near-duplicate detection.
    */
  private[graft] def simhash60Scalar(tokens: Array[String]): Long = {
    val votes = new Array[Int](60)
    var i = 0
    while (i < tokens.length) {
      val h = md5Hash60(tokens(i))
      var j = 0
      while (j < 60) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** SimHash near-duplicate pairs within a Hamming radius, using the
    * pigeonhole principle over four 15-bit bands of the 60-bit signature:
    * any pair within Hamming distance 3 shares at least one exact band, so
    * the candidate join is an equi-join on (band, 15-bit chunk).
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame = {
    // pigeonhole over 4 bands only guarantees recall for distance <= 3:
    // a pair differing in 4+ bits can touch every band and never share one
    require(maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4-band pigeonhole guarantee (3)")
    val spark = docs.sparkSession
    import spark.implicits._
    // null guard (engine convention) + localCheckpoint: the signed frame
    // feeds both sides of the band self-join and would otherwise re-sign
    // the corpus twice
    val sim = docs.select(col(idCol).cast("long"), col(textCol))
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .map { case (id, text) => (id, simhash60Scalar(text.split(" ", -1))) }
      .toDF("doc_id", "simhash")
      .localCheckpoint()
    val banded = sim.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7FFFL)).as("chunk"))): _*))
        .as("bc"))
      .select(col("doc_id"), col("simhash"), col("bc.band"), col("bc.chunk"))
    val a = banded.select(col("band"), col("chunk"),
      col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("band"), col("chunk"),
      col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard near-duplicate pairs via a blocked inverted
    * index: explode distinct shingles, group postings per (block, shingle)
    * to count intersections, derive Jaccard from per-doc shingle counts.
    * The blocking column bounds the pair space; at corpus scale a coarse
    * content prefix or LSH band plays that role.
    *
    * This is the low-skew fast path: every shared shingle contributes one
    * posting-pair, which is optimal when no shingle is ubiquitous. For
    * corpora with boilerplate (a shingle shared by a large fraction of
    * documents → a quadratic posting list), use
    * [[ngramJaccardPairsPrefix]], which provably skips those lists while
    * returning the identical result.
    */
  /** Inverted-index posts (doc_id, block, shingle-hash): shingling and
    * hashing run as ONE scalar pass per document (flatMap) — the
    * expression form (explode(shingles(...))) is interpreted and re-walks
    * the token array per emitted row. Hashing the shingle shrinks the
    * shuffle payload; a 64-bit collision would need ~2^32 distinct
    * shingles per block to matter.
    */
  private def shingleHashPosts(docs: DataFrame, idCol: String,
                               textCol: String, blockCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"),
        col(blockCol).cast("string"), col(textCol))
      // null id/text rows are skipped per the engine convention; a null
      // BLOCK key stays (it groups with other null-block rows through the
      // tuple encoder, matching the SQL-side per-doc counts)
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String, String)]
      .flatMap { case (id, block, text) =>
        shingleSet(text).iterator.map(s => (id, block, hash64(s)))
      }
      .toDF("doc_id", "block", "s")
  }

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = shingleHashPosts(docs, idCol, textCol, blockCol)
    // ONE (block, s) aggregation feeds both consumers: the pair
    // generation reads the posting lists, and the per-doc shingle counts
    // re-derive from the SAME lists (each doc appears once per list —
    // shingleSet is a set) instead of a second groupBy(doc_id) over a
    // fresh shingling pass. Identical subtree ⇒ ReuseExchange shares the
    // shuffle, so the corpus is tokenized/shingled exactly ONCE (the
    // counts branch previously re-ran the flatMap end-to-end; AQE does
    // not stage-share two DIFFERENT-key exchanges).
    val postings = sh.groupBy("block", "s")
      .agg(collect_list(col("doc_id")).as("ids"))
    val counts = postings.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    // posting-list pair generation: one groupBy + a per-posting flatMap
    // beats the two-sided self-join shuffle; sorting each (small) posting
    // list keeps pair orientation id_a < id_b deterministic
    val inter = postings
      .select(col("ids")).as[Seq[Long]]
      .flatMap { ids =>
        val sorted = ids.distinct.sorted
        for {
          i <- sorted.indices.iterator
          j <- (i + 1) until sorted.length
        } yield (sorted(i), sorted(j))
      }
      .toDF("id_a", "id_b")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(counts.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 4).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Directional n-gram CONTAINMENT pairs (Broder, "On the resemblance
    * and containment of documents", SEQUENCES 1997): containment(A in B)
    * = |shingles(A) ∩ shingles(B)| / |shingles(A)| — the asymmetric
    * companion to [[ngramJaccardPairs]] that catches what symmetric
    * Jaccard structurally CANNOT: a 50-shingle document quoted whole
    * inside a 5000-shingle page has Jaccard ≈ 0.01 but containment 1.0.
    * This is the duplicate class of quote farms, scraped-with-chrome
    * pages, and doc-in-doc boilerplate.
    *
    * Emits `(id_a, id_b, cont_a_in_b, cont_b_in_a)` (id_a < id_b, both
    * directions reported, 4 dp) for pairs whose LARGER direction clears
    * the threshold. Identical blocked posting-list machinery and cost
    * shape as [[ngramJaccardPairs]] — same shuffles, same pair space;
    * only the final normalization differs.
    */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            blockCol: String, threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = shingleHashPosts(docs, idCol, textCol, blockCol)
    // shared (block, s) aggregation — counts re-derive from the posting
    // lists so the corpus shingles once (see ngramJaccardPairs)
    val postings = sh.groupBy("block", "s")
      .agg(collect_list(col("doc_id")).as("ids"))
    val counts = postings.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = postings
      .select(col("ids")).as[Seq[Long]]
      .flatMap { ids =>
        val sorted = ids.distinct.sorted
        for {
          i <- sorted.indices.iterator
          j <- (i + 1) until sorted.length
        } yield (sorted(i), sorted(j))
      }
      .toDF("id_a", "id_b")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(counts.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("na").cast("double"), 4)
          .as("cont_a_in_b"),
        round(col("inter").cast("double") / col("nb").cast("double"), 4)
          .as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
  }

  /** Prefix-filtered exact n-gram Jaccard (the All-Pairs/PPJoin principle
    * — Bayardo et al., "Scaling up all pairs similarity search", WWW 2007;
    * Xiao et al., "Efficient similarity joins for near duplicate
    * detection", WWW 2008): under a global shingle order, a pair with
    * Jaccard >= t must share a shingle within each side's first
    * `n - ceil(t*n) + 1` shingles, so only those prefixes are indexed —
    * with ascending-document-frequency order the ubiquitous boilerplate
    * shingles (the quadratic posting lists) drop out of the index
    * entirely. Candidates are then verified with the exact intersection,
    * so the result is identical to [[ngramJaccardPairs]].
    *
    * Costs two extra shuffles (DF computation + per-doc ordering), so on
    * low-skew corpora the naive index is faster; on boilerplate-heavy
    * corpora — the realistic web-scale case — this path avoids the
    * quadratic bucket that the naive index cannot.
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                              blockCol: String, threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = shingleHashPosts(docs, idCol, textCol, blockCol)
    // global shingle document frequency; joining sh back on the SAME key
    // lets ReuseExchange share one (block, s) shuffle between the aggregate
    // and the join's left side
    val dfreq = sh.groupBy("block", "s").agg(count(lit(1)).as("dfreq"))
    // per-doc postings with their DF, sorted ascending (dfreq, s): the
    // canonical order for prefix selection, and (projected down to s) the
    // doc's full shingle set for verification. Both consumers share the
    // doc_id exchange.
    val perDoc = sh.join(dfreq, Seq("block", "s"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("dfreq"), col("s")))).as("ss"),
        first(col("block")).as("block"))
    // the final filter accepts ROUNDED jac >= t, so a pair a hair under t
    // can still qualify; prune with a threshold relaxed by the rounding
    // slack so such pairs are never lost to the prefix filter
    val tPrune = threshold - 5e-5
    val prefix = perDoc
      .select(col("doc_id"), col("block"),
        explode(slice(col("ss.s"), lit(1),
          size(col("ss")) - ceil(size(col("ss")) * tPrune).cast("int") + 1))
          .as("s"))
    // posting-list pair generation: one groupBy + a per-posting flatMap
    // beats the two-sided self-join shuffle; sorting each (small) posting
    // list keeps pair orientation id_a < id_b deterministic
    val cands = prefix.groupBy("block", "s")
      .agg(collect_list(col("doc_id")).as("ids"))
      .select(col("ids")).as[Seq[Long]]
      .flatMap { ids =>
        val sorted = ids.distinct.sorted
        for {
          i <- sorted.indices.iterator
          j <- (i + 1) until sorted.length
        } yield (sorted(i), sorted(j))
      }
      .toDF("id_a", "id_b").distinct()
    // exact verification over candidates only: array_intersect is a native
    // (non-lambda) expression, and the candidate set is near-linear thanks
    // to the prefix filter; sets stay partitioned by doc_id from the
    // aggregation, so only the slim candidate side reshuffles
    val sets = perDoc.select(col("doc_id"), col("ss.s").as("arr"),
      size(col("ss")).as("n"))
    cands
      .join(sets.select(col("doc_id").as("id_a"),
        col("arr").as("arr_a"), col("n").as("na")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"),
        col("arr").as("arr_b"), col("n").as("nb")), "id_b")
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 4).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Prefix-filtered directional CONTAINMENT pairs — identical result to
    * [[ngramContainmentPairs]], with the All-Pairs prefix bound adapted
    * to the asymmetric measure: a pair qualifies iff its larger-direction
    * containment clears t, i.e. iff the intersection covers at least
    * ceil(t · n_small) shingles of the SMALLER side — so, under a global
    * shingle order, the smaller side's first
    * n_small - ceil(t · n_small) + 1 shingles must hit the other side's
    * FULL set (if the prefix misses B entirely, at most n_small - prefix
    * = ceil(t·n_small) - 1 shingles can intersect). Candidate generation
    * is therefore an asymmetric index: each document indexes only its own
    * prefix (in ascending document-frequency order, so corpus boilerplate
    * drops out of the index) and probes with full postings; candidates
    * are verified exactly.
    *
    * This kills the quadratic bucket the naive [[ngramContainmentPairs]]
    * pays on boilerplate: a shingle shared by n docs in a block yields
    * O(n²) posting pairs there, but here only (prefix occupancy) × n —
    * and ubiquitous shingles have near-zero prefix occupancy by the DF
    * ordering. Same two extra shuffles as [[ngramJaccardPairsPrefix]]
    * (DF computation + per-doc ordering).
    */
  def ngramContainmentPairsPrefix(docs: DataFrame, idCol: String,
                                  textCol: String, blockCol: String,
                                  threshold: Double): DataFrame = {
    val sh = shingleHashPosts(docs, idCol, textCol, blockCol)
    val dfreq = sh.groupBy("block", "s").agg(count(lit(1)).as("dfreq"))
    val perDoc = sh.join(dfreq, Seq("block", "s"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("dfreq"), col("s")))).as("ss"),
        first(col("block")).as("block"))
    // the final filter accepts ROUNDED containment >= t, so prune with a
    // threshold relaxed by the rounding slack (same guard as the Jaccard
    // prefix): needed overlap c = ceil(n * tPrune), prefix = n - c + 1
    val tPrune = threshold - 5e-5
    val prefix = perDoc
      .select(col("doc_id").as("id_p"), col("block"),
        explode(slice(col("ss.s"), lit(1),
          size(col("ss")) - ceil(size(col("ss")) * tPrune).cast("int") + 1))
          .as("s"))
    // asymmetric candidate join: prefix index × FULL postings. The full
    // side of a boilerplate shingle is long, but its prefix side is
    // (near-)empty, so the join output stays near-linear where the naive
    // posting-list pairing is quadratic.
    val cands = prefix
      .join(sh.select(col("doc_id").as("id_f"), col("block"), col("s")),
        Seq("block", "s"))
      .filter(col("id_p") =!= col("id_f"))
      .select(least(col("id_p"), col("id_f")).as("id_a"),
        greatest(col("id_p"), col("id_f")).as("id_b"))
      .distinct()
    val sets = perDoc.select(col("doc_id"), col("ss.s").as("arr"),
      size(col("ss")).as("n"))
    cands
      .join(sets.select(col("doc_id").as("id_a"),
        col("arr").as("arr_a"), col("n").as("na")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"),
        col("arr").as("arr_b"), col("n").as("nb")), "id_b")
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("na").cast("double"), 4)
          .as("cont_a_in_b"),
        round(col("inter").cast("double") / col("nb").cast("double"), 4)
          .as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
  }

  /** Cross-document repeated n-gram SPANS (the substring-level dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", 2022 — doc-level MinHash misses boilerplate shared by
    * otherwise-distinct documents): the UNION of all n-gram windows that
    * occur in at least `minDocFreq` distinct documents, merged into
    * DISJOINT (doc_id, span_start, span_end) intervals with end
    * exclusive. A merged span may contain tokens whose own window did
    * not qualify (two overlapping qualifying windows bridge them); what
    * the contract guarantees is that every qualifying window is covered
    * and intervals never overlap, so downstream curation can cut or
    * down-weight them sequentially without double-removing any region.
    * Rows with NULL id or text are excluded (corrupt input — the store
    * Audit reports them).
    *
    * Scale shape: the posting frame carries (gram-hash, doc, pos) — one
    * slim row per token, never document bodies. At the default threshold
    * (shared by >= 2 docs) qualification is two streaming min/max window
    * aggregates over a single shuffle on the gram key — no self-join, one
    * pass over the corpus; span assembly is the classic islands trick
    * under a PER-DOCUMENT window (parallel, no global sort).
    */
  def repeatedNgramSpans(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 50, minDocFreq: Int = 2): DataFrame = {
    require(n > 0 && minDocFreq >= 2,
      s"need n > 0 and minDocFreq >= 2, got n=$n minDocFreq=$minDocFreq")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // null guards mirror the SQL-side behavior (a NULL text tokenizes to
    // nothing and contributes no grams), instead of crashing the flatMap
    val posts = docs.select(col(idCol).cast("long"), col(textCol))
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        // rolling Karp-Rabin over per-token hashes: O(L) per document —
        // hashing each n-token window from scratch would be O(n·L) with
        // a fresh ~n-token string allocation per position. Wrapping
        // 64-bit polynomial (odd base) needs no modulus; the gram hash
        // is engine-internal (the oracle compares exact gram strings).
        val toks = text.split(" ", -1)
        val m = toks.length - n
        if (m < 0) Iterator.empty
        else {
          val th = new Array[Long](toks.length)
          var i = 0
          while (i < toks.length) { th(i) = hash64(toks(i)); i += 1 }
          val B = 1000003L
          var bn = 1L // B^(n-1), wrapping
          i = 0
          while (i < n - 1) { bn *= B; i += 1 }
          var h = 0L
          i = 0
          while (i < n) { h = h * B + th(i); i += 1 }
          val out = new Array[(Long, Int, Long)](m + 1)
          out(0) = (id, 0, h)
          var p = 1
          while (p <= m) {
            h = (h - th(p - 1) * bn) * B + th(p + n - 1)
            out(p) = (id, p, h)
            p += 1
          }
          out.iterator
        }
      }
      .toDF("doc_id", "pos", "g")
    val hits =
      if (minDocFreq == 2) {
        // the common case needs only "shared by >= 2 distinct docs",
        // which is min(doc_id) != max(doc_id) within the gram — two
        // streaming window aggregates over ONE shuffle on g, no self-join,
        // and the per-token flatMap runs exactly once (a join-based
        // formulation re-evaluates the posting subtree on both sides;
        // measured: AQE does NOT stage-share the two copies)
        val wg = Window.partitionBy("g")
        posts
          .withColumn("mn", min("doc_id").over(wg))
          .withColumn("mx", max("doc_id").over(wg))
          .filter(col("mn") =!= col("mx"))
          .select("doc_id", "pos")
      } else {
        // general threshold: document-frequency aggregate + semi-join
        // back on the gram key (posting subtree evaluates twice — the
        // price of an arbitrary threshold; persist `docs` upstream if
        // the source scan is expensive)
        val qualifying = posts.groupBy("g")
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= minDocFreq)
          .select("g")
        posts.join(qualifying, "g").select("doc_id", "pos")
      }
    // islands with gap threshold n: two qualifying positions closer than
    // n tokens produce OVERLAPPING gram windows, so they merge into one
    // span — output intervals are disjoint, which is what a downstream
    // cut pass needs (overlapping spans would double-remove the overlap)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val brk = when(col("pos") - lag("pos", 1).over(w) >= n, 1L)
      .otherwise(when(lag("pos", 1).over(w).isNull, 1L).otherwise(0L))
    hits
      .withColumn("brk", brk)
      .withColumn("grp", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max("pos") + n).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start").cast("long"), col("span_end"))
  }

  /** Duplicate-cluster resolution: connected components over a near-dup
    * pair list (id_a, id_b), labelling every member with the minimum
    * reachable id as `cluster_rep` — the survivor a dedup pass keeps.
    * Iterative min-label propagation; each round is one join + aggregate,
    * and the lineage is truncated per round (localCheckpoint) so the loop
    * scales to deep chains without plan blowup. Converges in O(component
    * diameter) rounds — near-dup components are shallow in practice.
    */
  def duplicateClusters(edges: DataFrame): DataFrame =
    duplicateClusters(edges, localSolveMaxEdges = 500000)

  /** As [[duplicateClusters(edges*]], with an adaptive cutover: an edge
    * list no bigger than `localSolveMaxEdges` is solved with a driver-side
    * union-find (one job instead of ~2 per propagation round — near-dup
    * edge lists are tiny relative to the corpus because candidate
    * generation is blocked). Larger inputs run the distributed loop;
    * both paths produce the identical labelling (min reachable id).
    */
  def duplicateClusters(edges: DataFrame, localSolveMaxEdges: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val slim = edges.select(col("id_a").cast("long"), col("id_b").cast("long"))
    // limit+collect bounds driver memory: we never pull more than the
    // cutover count, and fall through to the distributed path when the
    // input exceeds it. The cutover is clamped into Int range BEFORE the
    // +1 — a raw .toInt of a >2^31 cutover would wrap, silently truncate
    // the edge list, and split real clusters (and Int.MaxValue would
    // overflow limit() into a negative argument)
    val localCap = math.min(localSolveMaxEdges, (Int.MaxValue - 1).toLong).toInt
    val head = slim.limit(localCap + 1)
      .as[(Long, Long)].collect()
    if (head.length <= localCap) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(a: Long): Long = {
        var r = a
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = a // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      head.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      spark.createDataset(rows).toDF("doc_id", "cluster_rep")
    } else distributedClusters(slim)
  }

  private def distributedClusters(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("id_a").as("x"), col("id_b").as("y"))
      .union(edges.select(col("id_b").as("x"), col("id_a").as("y")))
      .localCheckpoint()
    var reps = sym.select(col("x").as("id")).distinct()
      .withColumn("rep", col("id")).localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val neighborMin = sym
        .join(reps.select(col("id").as("y"), col("rep").as("nrep")), Seq("y"))
        .groupBy(col("x").as("id")).agg(min(col("nrep")).as("min_nrep"))
      val updated = reps.join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("rep"), coalesce(col("min_nrep"), col("rep"))).as("rep"),
          (col("min_nrep") < col("rep")).as("moved"))
        .localCheckpoint()
      changed = updated.filter(col("moved")).count()
      reps = updated.drop("moved")
    }
    reps.select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
  }

  /** Embedding near-duplicate pairs: exact cosine within a blocking key
    * (label/cluster). For unblocked corpora, route through
    * Similarity.signature-based bucketing first. The pairwise dot products
    * run as a typed map over the joined candidates (sequential fold in the
    * same order as the expression/oracle form, so results are identical,
    * but ~10x faster than interpreted array expressions).
    */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         blockCol: String, threshold: Double): DataFrame = {
    // codegen'd native cosine (same evaluation order and zero-vector
    // convention as the scalar twin, same rounding as BigDecimal HALF_UP —
    // Spark's round() IS that): the whole pair-scoring stage stays inside
    // WholeStageCodegen instead of a per-pair deserializing .map
    graft.functions.GraftExtensions.requireIn(emb.sparkSession)
    Similarity.blockedPairs(emb, idCol, vecCol, blockCol, orderedPairs = true)
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosineNative(col("va"), col("vb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs found by
    * clustering the corpus first and comparing WITHIN clusters only — the
    * scale path for embedding dedup, cutting the pair space from O(n²) to
    * O(Σ n_c²). Clustering uses the deterministic k-means assignment
    * (seeds = vectors of the k smallest ids, element-order distance folds,
    * lowest-index tie-break), so the whole operator — cluster membership
    * included — is re-derivable by an external engine.
    *
    * Recall caveat (same as any blocked dedup): a pair straddling two
    * clusters is never compared. Raising k tightens clusters and prunes
    * more pairs but drops more straddlers — SemDeDup accepts this
    * trade-off by construction.
    *
    * @return (id_a, id_b, cos) with id_a < id_b, cos rounded to 4 dp
    */
  def semanticNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                           k: Int, threshold: Double): DataFrame = {
    val centroids = Clustering.seedCentroids(emb, idCol, vecCol, k)
    // cluster label computed in the SAME scalar pass that carries the
    // vector — no corpus-sized join to re-attach vectors to labels (the
    // pair self-join evaluates its input subtree twice, so a join here
    // would shuffle the corpus twice over)
    cosineNearDupPairs(
      Clustering.assignWithVec(emb, idCol, vecCol, centroids),
      idCol, vecCol, "cluster", threshold)
  }

  /** Canonical-document selection, the step AFTER clustering: given the
    * corpus and a duplicate-cluster labelling (`doc_id`, `cluster_rep` —
    * [[duplicateClusters]] output, which only covers documents that
    * appear in an edge), mark one canonical survivor per cluster: the
    * highest `scoreCol` (quality, length, recency...), ties broken by
    * lowest id. Documents absent from `clusters` are their own cluster
    * and therefore canonical. Filtering `is_canonical` yields the
    * deduplicated corpus with the BEST copy kept, vs exactGroups'
    * min-id survivor.
    *
    * Scale shape: the cluster frame holds only duplicate members —
    * orders of magnitude smaller than the corpus under any realistic dup
    * rate — so it broadcast-joins; the selection window partitions by
    * cluster_rep (clusters are small by construction, so no single
    * window partition ever sees more than one cluster's members).
    *
    * @return input columns + (cluster_rep, is_canonical)
    */
  def keepCanonical(docs: DataFrame, clusters: DataFrame, idCol: String,
                    scoreCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!docs.columns.exists(c => c.equalsIgnoreCase("cluster_rep") ||
        c.equalsIgnoreCase("is_canonical")),
      "keepCanonical adds cluster_rep/is_canonical; rename existing columns")
    // temp name: never clobber a caller column
    val cid = graft.ops.Cols.fresh(docs, "_kc_id")
    val cl = broadcast(clusters.select(col("doc_id").cast("long").as(cid),
      col("cluster_rep").cast("long").as("cluster_rep")))
    // null ids excluded (engine null-id convention)
    val base = docs.filter(col(idCol).isNotNull)
    val joined = base
      .join(cl, base(idCol).cast("long") === cl(cid), "left_outer").drop(cid)
      .withColumn("cluster_rep",
        coalesce(col("cluster_rep"), col(idCol).cast("long")))
    val w = Window.partitionBy("cluster_rep")
      .orderBy(scoreCol.desc, col(idCol))
    joined.withColumn("is_canonical", row_number().over(w) === 1)
  }

  /** Bloom-prefiltered subtraction: `df` minus the rows whose `keyCol`
    * appears in `exclude` — the incremental-ingest primitive ("drop the
    * documents already processed in previous epochs") at corpus scale.
    *
    * The result is EXACTLY the left-anti join (the Bloom filter is only a
    * pruning device, never a correctness device): rows whose key the
    * filter rules out are kept immediately with no shuffle, and only the
    * "maybe present" rows — true matches plus the fpp fraction — are
    * verified by the exact anti-join. At a realistic exclusion rate the
    * shuffle therefore carries a small multiple of the true-match rows
    * instead of the whole corpus, which is the difference between an
    * anti-join of 100 TB and an anti-join of its already-seen slice.
    * Null keys are dropped (engine null-id convention; they never
    * equi-join anyway).
    *
    * Determinism precondition (same contract as rankByHexKey): `df` is
    * scanned twice, through the complementary definite/maybe filters — a
    * nondeterministic input (rand-derived column, re-read of a mutable
    * source) can drop or duplicate rows between the two passes.
    * `localCheckpoint()` such inputs first (the exclusion side is already
    * checkpointed here for exactly that reason).
    *
    * @param fpp false-positive probability of the prefilter — tune DOWN
    *            for bigger corpora (more bits, fewer rows re-verified)
    */
  def bloomSubtract(df: DataFrame, keyCol: String, exclude: DataFrame,
                    excludeKeyCol: String, fpp: Double = 0.01): DataFrame = {
    // integral keys only: a silent cast('long') on e.g. string keys would
    // null both join sides and keep every already-seen row — the exact
    // opposite of the documented anti-join contract
    def requireIntegral(d: DataFrame, c: String): Unit = {
      val dt = d.schema(c).dataType
      require(Seq("byte", "short", "integer", "long")
          .contains(dt.typeName),
        s"bloomSubtract needs an integral key; $c is ${dt.typeName}")
    }
    requireIntegral(df, keyCol)
    requireIntegral(exclude, excludeKeyCol)
    val spark = df.sparkSession
    graft.functions.GraftExtensions.requireIn(spark)
    val base = df.filter(col(keyCol).isNotNull)
    // localCheckpoint: the exclusion keys feed three consumers (count,
    // bloom build, anti-join) — materialize the slim key column once
    // instead of rescanning the exclusion corpus three times
    val exKeys = exclude.select(col(excludeKeyCol).cast("long").as("_ex_key"))
      .filter(col("_ex_key").isNotNull)
      .localCheckpoint()
    val nEx = exKeys.count()
    if (nEx == 0L) return base
    val bloom = exKeys.stat.bloomFilter("_ex_key", nEx, fpp)
    val key = col(keyCol).cast("long")
    // probe-function selection: Spark's codegen BloomFilterMightContain
    // (surfaced as graft_might_contain — same sketch serialization as
    // stat.bloomFilter) keeps the probe inside WholeStageCodegen, but
    // embeds the serialized filter in the plan as a literal, which ships
    // per TASK and hex-renders in plan strings. Small filters take that
    // deal; past the cutover (~1.7M keys at fpp 0.01) a broadcast + UDF
    // ships the filter once per EXECUTOR instead. Both paths call the
    // same mightContainLong, so results are identical.
    val mightContain: Column => Column = {
      val blob = {
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        bos.toByteArray
      }
      if (blob.length <= BloomLiteralMaxBytes) {
        val filterLit = lit(blob)
        (k: Column) => call_function("graft_might_contain", filterLit, k)
      } else {
        val bc = spark.sparkContext.broadcast(bloom)
        val probe = udf((k: java.lang.Long) =>
          k != null && bc.value.mightContainLong(k))
        (k: Column) => probe(k)
      }
    }
    // definitely-absent rows short-circuit past the join entirely
    val definite = base.filter(!mightContain(key))
    val maybe = base.filter(mightContain(key))
      .join(exKeys, key === col("_ex_key"), "left_anti")
    definite.unionByName(maybe)
  }

  /** Cutover between plan-literal and broadcast shipping of the Bloom
    * filter in [[bloomSubtract]]. A literal rides inside every serialized
    * task AND renders as full hex in every plan string — and the filter
    * appears in TWO operators (definite + maybe), so explain/AQE
    * logging/UI would materialize 2 hex chars per byte, twice — ~4 chars
    * per filter byte in total. 2 MB keeps worst-case plan text ~8 MB
    * while covering ~1.7M exclusion keys at
    * fpp 0.01 inside codegen; bigger filters ship once per executor as a
    * broadcast instead.
    */
  private val BloomLiteralMaxBytes: Int = 2 << 20

  /** C4-style repeated-block REWRITE (Raffel et al., "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", 2020, §2.2 — C4 deduplicates three-sentence spans
    * corpus-wide): partition every document's token stream into
    * consecutive `blockTokens`-token blocks, keep only the globally FIRST
    * occurrence of each distinct block (earliest (doc_id, block index)),
    * and reassemble each document from its surviving blocks. Unlike the
    * pair-finding operators this one rewrites the corpus — boilerplate
    * shared across documents survives exactly once.
    *
    * Scale shape: one scalar blocking pass (zero shuffle), then the
    * globally-first occurrence per distinct block computed as a MAP-SIDE
    * COMBINABLE min — `groupBy(md5(blk)).agg(min(struct(doc_id,
    * blk_idx)))` — so a boilerplate block shared by millions of documents
    * collapses to one row per input partition before the shuffle, instead
    * of a window partition serializing the whole family through one task
    * (the motivating C4 workload makes exactly those groups huge). The
    * join back to flag first occurrences is an equi-join on the hash,
    * which AQE skew-join splitting can subdivide — windows have no such
    * escape hatch. Then one per-document reassembly aggregation. The
    * blocking flatMap is evaluated twice (aggregate side + join side) —
    * recomputing a cheap scalar pass beats materializing the blocked
    * corpus; inputs must be deterministic (same contract as
    * [[bloomSubtract]]'s double scan).
    *
    * @return (doc_id, n_blocks, n_kept, text_clean) — text_clean is ""
    *         when every block of the document already appeared earlier
    */
  def dropRepeatedBlocks(docs: DataFrame, idCol: String, textCol: String,
                         blockTokens: Int = 10): DataFrame = {
    require(blockTokens > 0, s"blockTokens must be positive, got $blockTokens")
    val spark = docs.sparkSession
    import spark.implicits._
    val blocks = docs
      .select(col(idCol).cast("long"), col(textCol))
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        text.split(" ", -1).grouped(blockTokens).zipWithIndex
          .map { case (ts, i) => (id, i.toLong, ts.mkString(" ")) }
      }
      .toDF("doc_id", "blk_idx", "blk")
      .withColumn("_h", md5(col("blk")))
    // lexicographic min(struct) == the row row_number-over-(doc_id,
    // blk_idx) would rank first: (doc_id, blk_idx) is unique per block
    // row, so exactly one row per hash matches the min
    val firsts = blocks.groupBy("_h")
      .agg(min(struct(col("doc_id"), col("blk_idx"))).as("_fo"))
    val flagged = blocks.join(firsts, Seq("_h"))
      .withColumn("_first",
        col("_fo.doc_id") === col("doc_id") &&
          col("_fo.blk_idx") === col("blk_idx"))
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("_first"), 1L).otherwise(0L)).as("n_kept"),
        // surviving blocks re-concatenate in document order
        array_join(transform(
          sort_array(collect_list(when(col("_first"),
            struct(col("blk_idx"), col("blk"))))),
          x => x.getField("blk")), " ").as("text_clean"))
  }
}
