package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.ext.{Dedup, Similarity}

class FunctionsSpec extends AnyFunSuite with SharedSpark {

  test("graft_cosine is registered for SQL and matches the HOF formulation bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0)),
      (Seq(0.5, -0.25, 8.0), Seq(1.5, 0.75, -2.0))).toDF("a", "b")
    val rows = df.select(
      Similarity.cosineNative(col("a"), col("b")).as("native"),
      Similarity.cosine(col("a"), col("b")).as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // exact
    // SQL surface
    df.createOrReplaceTempView("vecs")
    val sql = spark.sql("SELECT graft_cosine(a, b) AS c FROM vecs").collect()
    rows.zip(sql).foreach { case (r, s) => assert(r.getDouble(0) == s.getDouble(0)) }
  }

  test("graft_cosine participates in whole-stage codegen (no fallback)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val p = emb.select(Similarity.cosineNative(col("v"), col("v")))
      .queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project"), p) // fused, not interpreted fallback
  }

  test("zero vectors score 0, never NaN, across all cosine implementations") {
    import spark.implicits._
    val df = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
    val r = df.select(
      Similarity.cosineNative(col("a"), col("b")).as("native"),
      Similarity.cosine(col("a"), col("b")).as("hof")).head()
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0)
    assert(Similarity.cosineScalar(Array(0.0, 0.0), Array(1.0, 2.0)) == 0.0)
  }

  test("graft_cosine null semantics: null array -> null result") {
    import spark.implicits._
    val df = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]])).toDF("a", "b")
    assert(df.select(Similarity.cosineNative(col("a"), col("b"))).head().isNullAt(0))
  }

  test("graft_cosine matches the HOF on malformed vectors: mismatch/null element -> null") {
    import spark.implicits._
    // zip_with pads the shorter array with nulls, so the HOF sum goes
    // null on length mismatch and on null elements; the native path must
    // agree instead of silently scoring a truncated prefix
    val df = Seq(
      (Seq(Option(1.0), Option(2.0), Option(3.0)), Seq(Option(1.0), Option(2.0))),
      (Seq(Option(1.0), Option.empty[Double]), Seq(Option(1.0), Option(2.0))))
      .toDF("a", "b")
    val rows = df.select(
      Similarity.cosineNative(col("a"), col("b")).as("native"),
      Similarity.cosine(col("a"), col("b")).as("hof")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0), s"native invented a score: $r")
      assert(r.isNullAt(1), s"HOF convention changed: $r")
    }
  }

  test("two graft_cosine calls fuse in one codegen projection (fresh locals)") {
    // fixed local names would redeclare in the shared Java scope and
    // silently drop the stage to interpreted execution
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val two = emb.select(
      Similarity.cosineNative(col("v"), col("v")).as("c1"),
      Similarity.cosineNative(col("v"), col("v")).as("c2"))
    assert(two.queryExecution.executedPlan.toString.contains("*(1) Project"),
      "two cosine calls fell out of whole-stage codegen")
    val r = two.head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-9 && r.getDouble(0) == r.getDouble(1))
  }

  test("native top-k and minhash union skip null inputs like SQL aggregates") {
    import spark.implicits._
    val scored = Seq(
      (1L, Option(10L), Option(0.5)),
      (1L, Option.empty[Long], Option(0.9)), // null id: skipped, not a crash
      (1L, Option(11L), Option.empty[Double]), // null score: skipped
      (1L, Option(12L), Option(0.8)))
      .toDF("g", "id", "score")
    val top = scored.groupBy("g")
      .agg(call_function("graft_topk_by_score", col("id"), col("score"), lit(2)).as("nn"))
      .select(explode(col("nn")).as("n")).select("n.id").as[Long].collect().toSeq
    assert(top == Seq(12L, 10L))
    val sig = Seq((1, Option("a b c d e")), (1, Option.empty[String]))
      .toDF("g", "text").groupBy("g")
      .agg(MinHashAgg.minhashUnion(col("text")).as("sig"))
      .select("sig").head().getSeq[Long](0)
    val clean = Seq((1, "a b c d e")).toDF("g", "text").groupBy("g")
      .agg(MinHashAgg.minhashUnion(col("text")).as("sig"))
      .select("sig").head().getSeq[Long](0)
    assert(sig == clean, "null text must be a no-op for the union sketch")
  }

  test("graft_topk_by_score matches the row_number window exactly, " +
    "ties and partial merges included") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // deterministic synthetic scores with deliberate ties; 64 partitions
    // force real partial-buffer serialization + merges through the shuffle
    val rows = spark.range(20000L).select(
      pmod(col("id"), lit(50)).as("g"),
      col("id").as("item"),
      (pmod(col("id") * 2654435761L, lit(97L)) / 97.0).as("score"))
      .repartition(64)
    val viaAgg = rows.groupBy("g")
      .agg(call_function("graft_topk_by_score",
        col("item"), col("score"), lit(5)).as("nn"))
      .select(col("g"), explode(col("nn")).as("n"))
      .select(col("g"), col("n.id").as("item"), col("n.score").as("score"))
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("item"))
    val viaWindow = rows.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).select("g", "item", "score")
    assert(viaAgg.except(viaWindow).count() == 0)
    assert(viaWindow.except(viaAgg).count() == 0)
    assert(viaAgg.count() == 250L) // 50 groups x k=5
    // groups smaller than k return their full membership, best-first
    val small = Seq((1L, 10L, 0.5), (1L, 11L, 0.9)).toDF("g", "item", "score")
      .groupBy("g")
      .agg(call_function("graft_topk_by_score",
        col("item"), col("score"), lit(5)).as("nn"))
      .select(explode(col("nn")).as("n")).select("n.id").as[Long].collect()
    assert(small.toSeq == Seq(11L, 10L))
  }

  test("graft_topk_by_score ranks NaN scores strictly last, deterministically") {
    import spark.implicits._
    // a NaN must never displace a real neighbour, whatever the arrival
    // order
    val rows = Seq((1L, 10L, Double.NaN), (1L, 11L, 0.2), (1L, 12L, 0.9),
      (1L, 13L, Double.NaN), (1L, 14L, 0.5)).toDF("g", "item", "score")
      .repartition(5) // spread so merge order varies
    val native = rows.groupBy("g")
      .agg(call_function("graft_topk_by_score",
        col("item"), col("score"), lit(3)).as("nn"))
      .select(explode(col("nn")).as("n")).select("n.id")
      .as[Long].collect().toSeq
    assert(native == Seq(12L, 14L, 11L), s"got $native")
    // the same rows arriving NaN-first in one partition
    val nanFirst = rows.orderBy(col("score").desc).coalesce(1).groupBy("g")
      .agg(call_function("graft_topk_by_score",
        col("item"), col("score"), lit(3)).as("nn"))
      .select(explode(col("nn")).as("n")).select("n.id")
      .as[Long].collect().toSeq
    assert(nanFirst == Seq(12L, 14L, 11L), s"got $nanFirst")
    // with fewer reals than k, NaNs fill the tail in id order
    val tail = rows.filter(col("item") =!= 11L && col("item") =!= 14L)
      .groupBy("g")
      .agg(call_function("graft_topk_by_score",
        col("item"), col("score"), lit(3)).as("nn"))
      .select(explode(col("nn")).as("n")).select("n.id")
      .as[Long].collect().toSeq
    assert(tail == Seq(12L, 10L, 13L), s"got $tail")
  }

  test("graft_langid matches the when-chain on every decision branch") {
    import spark.implicits._
    import graft.ext.{TextAnalysis => TA}
    val docs = Seq(
      "the cat is in the hat and a dog",          // en
      "der hund ist nicht das problem und",       // de
      "el perro la casa los gatos es y",          // es
      "le chat les chiens des et est une",        // fr
      "一二三四五",           // zh by charset ratio
      "mixed 一 text der die las le les des", // latin-dominated
      "",                            // empty -> zh (vacuous 0 >= 0 charset
                                     // ratio; the oracle CASE mirrors it)
      "zz qq ww",                                 // no markers -> en
      "a😀b the of and"                 // astral char, code points
    ).toDF("text")
    val rows = docs.select(
      TA.langIdNative(col("text")).as("native"),
      TA.langId(col("text")).as("chain")).collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1), r))
    assert(rows.map(_.getString(0)).take(5).toSeq ==
      Seq("en", "de", "es", "fr", "zh"))
    // SQL surface (ConvertToLocalRelation folds the local frame, so the
    // codegen check below runs on a parquet scan instead)
    docs.createOrReplaceTempView("langdocs")
    val sql = spark.sql("SELECT graft_langid(text) AS l FROM langdocs")
    assert(sql.collect().map(_.getString(0)).toSeq ==
      rows.map(_.getString(0)).toSeq)
    // codegen participation on a real scan (no interpreted fallback)
    val scan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TA.langIdNative(col("text")))
    assert(scan.queryExecution.executedPlan.toString.contains("*(1) Project"))
    // null text -> null (expression semantics; the when-chain gives 'en')
    val nulls = Seq(Option.empty[String]).toDF("text")
    assert(nulls.select(TA.langIdNative(col("text"))).head().isNullAt(0))
  }

  test("MinHash aggregator distributes over union (partial aggregation is exact)") {
    import spark.implicits._
    val texts = Seq(
      (1, "alpha beta gamma delta epsilon zeta"),
      (1, "one two three four five six seven"),
      (2, "alpha beta gamma delta epsilon zeta"))
    val df = texts.toDF("grp", "text")
    val grouped = df.groupBy("grp")
      .agg(MinHashAgg.minhashUnion(col("text"), 16).as("sig"))
      .orderBy("grp").collect()
    // group 1 signature == elementwise min of its two docs' signatures
    val sig1 = grouped(0).getAs[scala.collection.Seq[Long]]("sig")
    val docA = Dedup.minhashSig(Dedup.shingleSet(texts(0)._2), 16)
    val docB = Dedup.minhashSig(Dedup.shingleSet(texts(1)._2), 16)
    assert(sig1.toSeq == docA.zip(docB).map { case (x, y) => math.min(x, y) }.toSeq)
    // group 2 == its single doc's signature
    assert(grouped(1).getAs[scala.collection.Seq[Long]]("sig").toSeq == docA.toSeq)
  }

  test("estimatedJaccard of identical signatures is 1.0") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 8L)))
      .toDF("a", "b", "c")
    val r = df.select(
      MinHashAgg.estimatedJaccard(col("a"), col("b")).as("same"),
      MinHashAgg.estimatedJaccard(col("a"), col("c")).as("half")).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.5)
  }
}
