package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class ExtSpec extends AnyFunSuite with SharedSpark {

  private lazy val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def embs = spark.read.parquet(s"$sf/embeddings.parquet")

  // ---- TextAnalysis ---------------------------------------------------

  test("langId recognizes marker-bearing sentences per profile") {
    import spark.implicits._
    val df = Seq(
      ("der hund und die katze ist nicht da", "de"),
      ("el gato y la casa es de los padres", "es"),
      ("le chat et les maisons des amis est une", "fr"),
      ("the cat and the dog is in a house of tools", "en"))
      .toDF("text", "expected")
    val got = df.select(col("expected"), TextAnalysis.langId(col("text")).as("got"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("quality score is in [0,1] and penalizes punctuation noise") {
    import spark.implicits._
    val df = Seq(
      "the steady growth of the market is clear and the trend is stable",
      "@@@ ## !!! ??? %% ^^ && ** (( ))")
      .toDF("text")
    val scores = df.select(TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(_.getDouble(0))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores(0) > scores(1))
  }

  test("fingerprints are order-sensitive, rolling fingerprint detects any reorder") {
    import spark.implicits._
    val df = Seq("alpha beta gamma delta", "beta alpha gamma delta").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.rollingFingerprint(col("text")).as("kr")).collect()
    assert(fps(0).getLong(1) != fps(1).getLong(1)) // rolling differs
    assert(fps(0).getLong(0) != fps(1).getLong(0)) // positional differs
  }

  test("scalar rolling fingerprint is bit-identical to the SQL-expression form") {
    // the scalar fold is the hot path; the expression form is the
    // outside-the-engine auditability contract — they must never drift.
    // Corpus text plus the token edge cases split() semantics can bend
    // on (empty string, repeated/trailing separators, unicode, null)
    import spark.implicits._
    val edge = Seq("", " ", "a", "a ", " a", "a  b", "héllo wörld £",
      null.asInstanceOf[String]).toDF("text")
    for (df <- Seq(docs.select("text"), edge)) {
      val rows = df.select(
        TextAnalysis.rollingFingerprint(col("text")).as("scalar"),
        TextAnalysis.rollingFingerprintSql(col("text")).as("sql")).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1))
        if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
      }
    }
  }

  // ---- Dedup ----------------------------------------------------------

  test("minhash LSH finds the planted near-duplicates that exact jaccard confirms") {
    // ground truth: global exact pairs at J >= 0.5 (single "block")
    val exact = Dedup.ngramJaccardPairs(
      docs.withColumn("blk", lit(1)), "doc_id", "text", "blk", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 32, 8, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "expected planted near-duplicates in testdata")
    // exact-verification makes LSH precision 1.0; recall should be high
    assert(lsh.subsetOf(exact))
    assert(lsh.size >= exact.size * 8 / 10, s"LSH recall too low: ${lsh.size}/${exact.size}")
  }

  test("hard negatives exclude the anchor's label and match the window reference") {
    import org.apache.spark.sql.expressions.Window
    val anchors = embs.filter(col("vec_id") < 5)
    val got = Similarity.hardNegativesBatch(embs, "vec_id", "embedding",
      "label", anchors, "vec_id", "embedding", "label", k = 8)
    // exclusion is absolute: no mined negative carries its anchor's label
    val labeled = got
      .join(embs.select(col("vec_id").as("id"), col("label").as("nlabel")), "id")
      .join(anchors.select(col("vec_id").as("query_id"),
        col("label").as("qlabel")), "query_id")
    assert(labeled.count() === got.count())
    assert(labeled.filter(col("nlabel") === col("qlabel")).count() === 0L)
    // and the selection is exactly the windowed reference
    val scored = embs.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("cv"), col("label").as("cl"))
      .crossJoin(anchors.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"), col("label").as("ql")))
      .filter(col("cl") =!= col("ql"))
      .select(col("query_id"), col("id"),
        round(Similarity.cosineNative(col("cv"), col("qv")), 6).as("cos"))
    val ref = scored.withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("id"))))
      .filter(col("rn") <= 8).drop("rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gotSet = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotSet === ref && ref.nonEmpty)
  }

  test("batch mining refuses a broadcast-unsafe anchor frame loudly") {
    // a corpus-sized anchor frame would broadcast-OOM / go cartesian;
    // the guard counts at most cap+1 rows and refuses before any scan
    val e = intercept[IllegalArgumentException] {
      Similarity.hardNegativesBatch(embs, "vec_id", "embedding", "label",
        embs, "vec_id", "embedding", "label", k = 4, maxAnchors = 10)
    }
    assert(e.getMessage.contains("broadcasts"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopKBatch(embs, "vec_id", "embedding",
        embs, "vec_id", "embedding", k = 4, maxQueries = 10)
    }
    assert(e2.getMessage.contains("broadcasts"), e2.getMessage)
    // under the cap, both mine normally
    assert(Similarity.hardNegativesBatch(embs, "vec_id", "embedding",
      "label", embs.filter(col("vec_id") < 3), "vec_id", "embedding",
      "label", k = 2, maxAnchors = 10).count() > 0L)
  }

  test("containment finds doc-in-doc pairs symmetric jaccard cannot") {
    import spark.implicits._
    // doc 2's shingles are a strict subset of doc 1's (quoted whole);
    // doc 3 is unrelated. 16-word host vs 5-word quote → Jaccard is low
    // while containment(2 in 1) = 1.0
    val host = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa"
    val corpus = Seq(
      (1L, host),
      (2L, "echo foxtrot golf hotel india"),
      (3L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text").withColumn("blk", lit(1))
    val cont = Dedup.ngramContainmentPairs(corpus, "doc_id", "text", "blk", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toList
    // 3 shingles of doc 2, all inside doc 1's 14 → (1,2, 3/14, 1.0)
    assert(cont == List((1L, 2L, 0.2143, 1.0)))
    // symmetric jaccard at the same bar sees nothing
    assert(Dedup.ngramJaccardPairs(corpus, "doc_id", "text", "blk", 0.9)
      .collect().isEmpty)
    // degenerate guard: identical docs are containment 1.0 both ways
    val twins = Seq((7L, host), (8L, host)).toDF("doc_id", "text")
      .withColumn("blk", lit(1))
    val t2 = Dedup.ngramContainmentPairs(twins, "doc_id", "text", "blk", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toList
    assert(t2 == List((7L, 8L, 1.0, 1.0)))
  }

  test("prefix-filtered jaccard join returns exactly the naive index's pairs") {
    import spark.implicits._
    // corpus case: real planted near-dups from testdata
    val naive = Dedup.ngramJaccardPairs(
      docs.withColumn("blk", lit(1)), "doc_id", "text", "blk", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = Dedup.ngramJaccardPairsPrefix(
      docs.withColumn("blk", lit(1)), "doc_id", "text", "blk", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive.nonEmpty && prefix == naive)
    // boilerplate-skew case: a shingle shared by EVERY doc (the quadratic
    // posting list the prefix filter exists to skip) plus one true near-dup
    val boiler = "generated by export tool"
    val skewed = (1L to 40L).map(i => (i, s"$boiler unique$i filler$i body$i text$i"))
      .toDF("doc_id", "text")
      .union(Seq((100L, "generated by export tool shared body here today"),
        (101L, "generated by export tool shared body here tomorrow"))
        .toDF("doc_id", "text"))
      .withColumn("blk", lit(1))
    val n2 = Dedup.ngramJaccardPairs(skewed, "doc_id", "text", "blk", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val p2 = Dedup.ngramJaccardPairsPrefix(skewed, "doc_id", "text", "blk", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(p2 == n2)
    assert(p2.exists { case (a, b, _) => a == 100L && b == 101L })
  }

  test("prefix-filtered containment join returns exactly the naive pairs") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    // corpus case: real planted containments from testdata
    val naive = rows(Dedup.ngramContainmentPairs(
      docs.withColumn("blk", lit(1)), "doc_id", "text", "blk", 0.6))
    val prefix = rows(Dedup.ngramContainmentPairsPrefix(
      docs.withColumn("blk", lit(1)), "doc_id", "text", "blk", 0.6))
    assert(naive.nonEmpty && prefix == naive)
    // asymmetric skew case: every doc shares a boilerplate shingle run
    // (the quadratic posting lists), plus a SHORT doc quoted whole inside
    // a long one — the doc-in-doc class only containment catches, which
    // must survive the prefix filter via the smaller side's prefix
    val boiler = "generated by export tool"
    val quoted = "alpha beta gamma delta epsilon"
    val skewed = (1L to 40L)
      .map(i => (i, s"$boiler unique$i filler$i body$i text$i"))
      .toDF("doc_id", "text")
      .union(Seq((100L, quoted),
        (101L, s"$boiler long page starts here $quoted and keeps going on"))
        .toDF("doc_id", "text"))
      .withColumn("blk", lit(1))
    val n2 = rows(Dedup.ngramContainmentPairs(skewed, "doc_id", "text",
      "blk", 0.9))
    val p2 = rows(Dedup.ngramContainmentPairsPrefix(skewed, "doc_id",
      "text", "blk", 0.9))
    assert(p2 == n2)
    assert(p2.exists { case (a, b, cab, _) =>
      a == 100L && b == 101L && cab == 1.0 })
  }

  test("identical texts give identical minhash signatures and simhash 0 distance") {
    import spark.implicits._
    val df = Seq((1L, "one two three four five six"), (2L, "one two three four five six"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = 0).collect()
    assert(pairs.length == 1 && pairs.head.getAs[Long]("hamming") == 0L)
  }

  test("expression-form minhash signature + lsh bands stay consistent") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "z y x w v u t s"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(split(col("text"), " ")).as("sh"))
      .withColumn("sig", Dedup.minhashSignature(col("sh"), 8))
    val sigs = df.select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L)) // identical text -> identical signature
    assert(sigs(1L) != sigs(3L))
    val pairs = Dedup.lshCandidatePairs(
      Dedup.lshBands(df, col("doc_id"), col("sig"), bands = 4, rowsPerBand = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("duplicateClusters propagates the minimum id across chained components") {
    import spark.implicits._
    // chain 5-3-9 plus separate pair 7-8: reps {3,3,3} and {7,7}
    val edges = Seq((5L, 3L), (9L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val expected = Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 7L -> 7L, 8L -> 7L)
    val reps = Dedup.duplicateClusters(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == expected)
    // force the distributed min-label loop (cutover 0) — identical labels
    val dist = Dedup.duplicateClusters(edges, localSolveMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected)
  }

  test("knnJoin returns exactly k deterministic neighbours per vector") {
    val knn = Similarity.knnJoin(embs, "vec_id", "embedding", "label", 3)
    val counts = knn.groupBy("id_a").count().select("count")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(counts == Set(3L)) // every block has > 3 members at sf0.001
    // top neighbour of vec 0 agrees with its brute-force ranking within label
    val sameLabel = embs.filter(col("vec_id") === 0).select("label")
      .collect().head.getInt(0)
    val top = knn.filter(col("id_a") === 0).orderBy(col("cos").desc)
      .collect().head.getLong(1)
    val brute = Dedup.cosineNearDupPairs(
      embs.filter(col("label") === sameLabel), "vec_id", "embedding", "label", -1.0)
      .filter(col("id_a") === 0 || col("id_b") === 0)
      .withColumn("other", when(col("id_a") === 0, col("id_b")).otherwise(col("id_a")))
      .orderBy(col("cos").desc, col("other"))
      .collect().head.getAs[Long]("other")
    assert(top == brute)
  }

  test("knnJoinByCell pairs only within a vector's derived cell") {
    val knn = Similarity.knnJoinByCell(embs, "vec_id", "embedding",
      k = 3, cellBits = 4)
    // every returned pair shares the RHP cell both sides derive from
    // their own vectors — the blocking invariant of the scale path
    val cells = embs.select(col("vec_id"),
      Similarity.ivfCell(col("embedding").cast("array<double>"), 4).as("c"))
    val joined = knn
      .join(cells.select(col("vec_id").as("id_a"), col("c").as("ca")), "id_a")
      .join(cells.select(col("vec_id").as("id_b"), col("c").as("cb")), "id_b")
    assert(joined.filter(col("ca") =!= col("cb")).count() == 0)
    assert(knn.groupBy("id_a").count()
      .filter(col("count") > 3).count() == 0) // never more than k
  }

  test("cosineNearDupPairs on a vanilla SparkSession fails fast, naming GraftExtensions") {
    import org.apache.spark.sql.SparkSession
    // a second session over the same SparkContext but built WITHOUT
    // GraftExtensions: the engine refuses it up front, with a message
    // that names the fix, instead of Spark's unresolved-routine error
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val vanilla = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
      assert(!vanilla.catalog.functionExists("graft_cosine"),
        "vanilla session unexpectedly has the native function registered")
      val e = intercept[IllegalStateException] {
        Dedup.cosineNearDupPairs(
          vanilla.read.parquet(s"$sf/embeddings.parquet"),
          "vec_id", "embedding", "label", 0.2)
      }
      assert(e.getMessage.contains("graft.GraftSession"), e.getMessage)
      assert(e.getMessage.contains(
        "spark.sql.extensions=graft.functions.GraftExtensions"), e.getMessage)
    } finally {
      // the vanilla session shares the JVM-wide SparkContext — never stop
      // it; just restore the suite session as default/active
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("IVF queries refuse an unversioned or parameter-mismatched index") {
    import spark.implicits._
    val path = tmpDir("graft-ivf-meta") + "/ivf"
    Similarity.ivfWrite(embs, "vec_id", "embedding", path, cellBits = 6)
    val qv = embs.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].head().toArray
    // matching parameters: query succeeds
    assert(Similarity.ivfTopK(spark, path, "vec_id", "embedding", qv,
      k = 3, cellBits = 6, maxHamming = 2).count() == 3)
    // cellBits mismatch: probing would compute cells under a different
    // convention than the layout — must fail, not return wrong neighbours
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(spark, path, "vec_id", "embedding", qv,
        k = 3, cellBits = 8, maxHamming = 2)
    }
    assert(e1.getMessage.contains("cellBits"))
    // marker removed (pre-versioning index): fail fast with rebuild advice
    new java.io.File(path, "_graft_ivf_meta").delete()
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(spark, path, "vec_id", "embedding", qv,
        k = 3, cellBits = 6, maxHamming = 2)
    }
    assert(e2.getMessage.contains("Rebuild"))
  }

  test("exact groups collapse duplicate content to the minimum id") {
    import spark.implicits._
    val df = Seq((5L, "same text"), (2L, "same text"), (9L, "other"))
      .toDF("doc_id", "text")
    val g = Dedup.exactGroups(df, sha2(col("text"), 256), col("doc_id"))
      .orderBy("keep_id").collect()
    assert(g.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("dup_cnt"))).toSeq
      == Seq((2L, 2L), (9L, 1L)))
  }

  // ---- Similarity -----------------------------------------------------

  test("cosine of a vector with itself is ~1") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a").cast("array<double>"),
      col("b").cast("array<double>")).as("c")).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("LSH top-k achieves reasonable recall vs brute force") {
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", 0L, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val lsh = Similarity.lshTopK(embs, "vec_id", "embedding", 0L, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(lsh.nonEmpty)
    assert((brute intersect lsh).size >= 5,
      s"ANN recall too low: ${(brute intersect lsh).size}/10")
  }

  test("IVF index: partition-pruned probe achieves recall against brute force") {
    val path = tmpDir("ivf") + "/emb"
    Similarity.ivfWrite(embs, "vec_id", "embedding", path, cellBits = 6)
    val qv = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val ivf = Similarity.ivfTopK(spark, path, "vec_id", "embedding", qv,
      k = 10, cellBits = 6, maxHamming = 3, excludeId = Some(0L))
    // the scan must prune partitions (cell filter reaches PartitionFilters)
    val plan = ivf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [ivf_cell"), plan)
    val got = ivf.collect().map(_.getLong(0)).toSet - 0L
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    assert((got intersect brute).size >= 3, s"IVF recall too low: ${(got intersect brute).size}/10")
  }

  test("k-means IVF: learned cells prune partitions and beat-or-match recall") {
    val path = tmpDir("ivfkm") + "/emb"
    val centroids = Similarity.ivfKmeansWrite(embs, "vec_id", "embedding",
      path, k = 8, maxIters = 3)
    assert(centroids.length == 8)
    val qv = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val ivf = Similarity.ivfKmeansTopK(spark, path, "vec_id", "embedding",
      centroids, qv, k = 10, nProbe = 3, excludeId = Some(0L))
    val plan = ivf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [ivf_cell"), plan)
    val got = ivf.collect().map(_.getLong(0)).toSet - 0L
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    assert((got intersect brute).size >= 5,
      s"k-means IVF recall too low: ${(got intersect brute).size}/10")
    // probing every cell recovers the exact result (recall 1.0 ceiling)
    val full = Similarity.ivfKmeansTopK(spark, path, "vec_id", "embedding",
      centroids, qv, k = 10, nProbe = 8, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSet
    assert(full == brute)
    // the batch form answers each query identically to the per-query form
    val queries = embs.filter(col("vec_id") < 3)
    val batch = Similarity.ivfKmeansTopKBatch(spark, path, "vec_id",
      "embedding", centroids, queries, "vec_id", "embedding",
      k = 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = queries.select(col("vec_id"),
        col("embedding").cast("array<double>")).collect()
      .flatMap { r =>
        val qid = r.getLong(0)
        Similarity.ivfKmeansTopK(spark, path, "vec_id", "embedding",
          centroids, r.getSeq[Double](1).toArray, k = 10, nProbe = 3,
          excludeId = Some(qid))
          .collect().map(n => (qid, n.getLong(0), n.getDouble(1)))
      }.toSet
    assert(batch == single)
  }

  test("recallAtK closes the tuning loop over the k-means IVF index") {
    // the learned-cell twin of the oracled sim_recall_ivf probe: the
    // centroids are Lloyd-trained (float-summation-order sensitive, so
    // not DuckDB-replayable — spec instead of probe by design), but the
    // recall contract is exact: probing EVERY cell must recover the
    // brute-force answer (recall 1.0 per query), and the nProbe knob
    // trades recall monotonically, never exceeding the full-probe ceiling
    val path = tmpDir("ivfkm-recall") + "/emb"
    val centroids = Similarity.ivfKmeansWrite(embs, "vec_id", "embedding",
      path, k = 8, maxIters = 3)
    val queries = embs.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopKBatch(embs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    def recalls(nProbe: Int): Map[Long, Double] =
      Similarity.recallAtK(
        Similarity.ivfKmeansTopKBatch(spark, path, "vec_id", "embedding",
          centroids, queries, "vec_id", "embedding", k = 10, nProbe = nProbe),
        exact, k = 10)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val full = recalls(nProbe = centroids.length)
    assert(full.keySet == Set(0L, 1L, 2L))
    assert(full.values.forall(_ == 1.0), s"full probe must be exact: $full")
    val narrow = recalls(nProbe = 3)
    assert(narrow.values.sum / narrow.size >= 0.5,
      s"nProbe=3 recall collapsed: $narrow")
    narrow.foreach { case (q, r) =>
      assert(r <= full(q), s"recall exceeded the exact ceiling for query $q")
    }
  }

  test("k-means IVF centroids persist with the index and reload bit-exact") {
    val path = tmpDir("ivfkm-persist") + "/emb"
    val centroids = Similarity.ivfKmeansWrite(embs, "vec_id", "embedding",
      path, k = 8, maxIters = 3)
    // the hex-float rendering round-trips every double bit-exactly
    val loaded = Similarity.ivfKmeansCentroids(spark, path)
    assert(loaded.length == centroids.length)
    centroids.zip(loaded).foreach { case (a, b) => assert(a.sameElements(b)) }
    // a "different session" (no in-memory matrix) serves the index via the
    // centroid-free overloads, identically to the explicit-matrix calls
    import spark.implicits._
    val qv = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].head().toArray
    val viaIndex = Similarity.ivfKmeansTopK(spark, path, "vec_id",
      "embedding", qv, k = 10, nProbe = 3, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaMatrix = Similarity.ivfKmeansTopK(spark, path, "vec_id",
      "embedding", centroids, qv, k = 10, nProbe = 3, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == viaMatrix)
  }

  test("k-means IVF index built on a tiny corpus is queryable (achieved k)") {
    // a corpus smaller than the requested k yields fewer centroids; the
    // meta marker must record the ACHIEVED count so the query-side check
    // (against centroids.length) accepts the index the build returned
    val tiny = embs.filter(col("vec_id") < 5)
    val path = tmpDir("ivfkm-tiny") + "/emb"
    val centroids = Similarity.ivfKmeansWrite(tiny, "vec_id", "embedding",
      path, k = 8, maxIters = 2)
    assert(centroids.length < 8)
    import spark.implicits._
    val qv = tiny.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].head().toArray
    val got = Similarity.ivfKmeansTopK(spark, path, "vec_id", "embedding",
      centroids, qv, k = 3, nProbe = centroids.length, excludeId = Some(0L))
    assert(got.count() == 3)
  }

  test("salted join distributes a skewed key and preserves results") {
    import spark.implicits._
    val fact = (1 to 1000).map(i => (if (i % 10 == 0) 1L else 2L, i.toLong))
      .toDF("k", "v")
    val dim = Seq((1L, "hot"), (2L, "cold")).toDF("k", "name")
    val salted = graft.ops.Skew.saltedJoin(fact, dim, "k", saltBuckets = 8)
    val plain = fact.join(dim, "k")
    assert(salted.count() == plain.count())
    assert(salted.groupBy("name").count().orderBy("name").collect().toSeq
      == plain.groupBy("name").count().orderBy("name").collect().toSeq)
  }

  test("salting is content-derived: stable across recomputes, spreads the hot key") {
    import spark.implicits._
    val fact = (1 to 1000).map(i => (if (i % 10 == 0) 1L else 2L, i.toLong))
      .toDF("k", "v")
    // recompute simulation: evaluate the salted assignment twice (fresh
    // plans, fresh task sets — what a fetch-failure rerun does) and demand
    // identical per-row salts; a placement-derived salt
    // (monotonically_increasing_id / spark_partition_id) fails this
    def salts() = fact
      .withColumn("_salt", graft.ops.Skew.contentSalt(fact, 8))
      .repartition(13) // different physical placement on purpose
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val a = salts(); val b = salts()
    assert(a == b, "salt must be a pure function of row content")
    // and the hot key still fans out over multiple buckets
    val hotBuckets = a.collect { case ((k, _), s) if k == 1L => s }.toSet
    assert(hotBuckets.size > 1, s"hot key stayed in buckets $hotBuckets")
  }

  test("salted aggregation decomposes count/sum correctly") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (if (i % 4 == 0) "hot" else s"k${i % 7}", i.toDouble))
      .toDF("k", "v")
    val salted = graft.ops.Skew.saltedAggregate(df, col("k"), 8,
      partial = Seq(count(lit(1)).as("c"), sum(col("v")).as("s")),
      finalAgg = Seq(sum(col("c")).as("cnt"), round(sum(col("s")), 2).as("total")),
      keyName = "k")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val plain = df.groupBy("k")
      .agg(count(lit(1)).as("cnt"), round(sum(col("v")), 2).as("total"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("batch top-k tolerates null embeddings in the corpus (one null convention)") {
    import spark.implicits._
    // a corpus row with a null vector produces a null cosine; both top-k
    // paths (native aggregate and typed fallback) must skip it rather
    // than throw from the fallback's non-nullable tuple encoder
    val corpus = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)), (3L, Array(0.0, 1.0)))
      .toDF("vec_id", "embedding")
      .unionByName(Seq(4L).toDF("vec_id")
        .withColumn("embedding", lit(null).cast("array<double>")))
    val queries = Seq((10L, Array(1.0, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopKBatch(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(1L, 2L, 3L), s"null-embedding row leaked or crashed: $got")
  }

  test("brute-force top-k is ordered by descending similarity") {
    val rows = Similarity.bruteForceTopK(embs, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getDouble(1))
    assert(rows.sameElements(rows.sorted(Ordering[Double].reverse)))
  }
}
