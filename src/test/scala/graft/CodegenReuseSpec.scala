package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.ChunkerConfig
import graft.functions.ParamLiteral
import graft.pipeline.{IngestPipeline, IngestStats, ProcessingConfig}
import graft.serve.{DocumentStore, ServeFixtures}
import graft.store.{ObjectStore, TableStore}

/** Each query shape compiles once: per-call values (serving keys, the
  * ingest clock, dense-id bases) reach generated code as parameters, so
  * repeating a shape with new values compiles no class. Compilations are
  * counted with Spark's `CodegenMetrics` — one per miss of its JVM-wide
  * compile cache — the way `SparkJobs.during` counts jobs.
  */
class CodegenReuseSpec extends AnyFunSuite with SharedSpark {

  private lazy val fx = new ServeFixtures(spark, tmpDir)

  /** `body`'s result and the number of classes compiled while it ran. */
  private def compiled[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Every one-document read of the serving surface, on one key. */
  private def routes(ds: DocumentStore, id: Long): Seq[(String, () => Any)] = Seq(
    "getDocument" -> (() => ds.getDocument(id).toJSON.collect()),
    "getChunks" -> (() => fx.served(ds.getChunks(id))),
    "getChunks with both bounds" -> (() => fx.served(ds.getChunks(id, Some(0), Some(1)))),
    "getChunksJson" -> (() => ds.getChunksJson(id, Some(0), Some(1))),
    "getCharts" -> (() => fx.served(ds.getCharts(id))),
    "getChartsJson" -> (() => ds.getChartsJson(id)),
    "getChartWithImage" -> (() => ds.getChartWithImage(id, id * 7)),
    "documentExists" -> (() => ds.documentExists(id)),
    "listDocuments" -> (() => fx.served(ds.listDocuments((id % 50).toInt, 5))))

  for (aqe <- Seq(true, false))
    test(s"reads on unseen keys compile nothing after one warm-up read per route (AQE $aqe)") {
      val (ds, _, objects) = fx.fixture()
      Seq(10L, 11L, 120L, 121L, 230L, 231L).foreach(d =>
        objects.put(objects.chartKey(d, d * 7), Array[Byte](-119, 80, 78, 71)))
      withAqe(aqe) {
        routes(ds, if (aqe) 10L else 11L).foreach(_._2())
        val counts = for (key <- if (aqe) Seq(120L, 230L) else Seq(121L, 231L);
                          (name, read) <- routes(ds, key))
          yield s"$name($key)" -> compiled(read())._2
        assert(counts.forall(_._2 == 0), s"classes compiled on unseen keys: $counts")
      }
    }

  test("50 distinct-key reads leave the compile count flat") {
    val (ds, _, _) = fx.fixture()
    routes(ds, 1L).foreach(_._2())
    val (_, n) = compiled((51L to 100L).foreach(k => routes(ds, k).foreach(_._2())))
    assert(n == 0, s"50 new keys compiled $n class(es)")
  }

  private def writeInbox(): String = {
    val inbox = tmpDir("codegen-inbox")
    def write(name: String, body: String): Unit =
      Files.write(Paths.get(inbox, name), body.getBytes(StandardCharsets.UTF_8))
    write("report.pdf",
      """Executive Summary:
        |This report analyzes the performance of TechCorp Inc during the recent quarter overall.
        |TABLE: Quarterly revenue by segment
        |
        |Financial Results:
        |Q4 2023 showed strong growth in revenue and profit margin across all units.
        |FIGURE: Growth trend line
        |""".stripMargin)
    write("memo.pdf", "Notes:\nShort memo text only here, with a few more words.\n")
    inbox
  }

  private def ingestFresh(inbox: String, now: Timestamp): IngestStats = {
    val root = tmpDir("codegen-store")
    new IngestPipeline(spark, new TableStore(spark, s"$root/tables"),
      new ObjectStore(spark, s"$root/bucket"),
      ProcessingConfig(chunker = ChunkerConfig(minTokens = 10, maxTokens = 2000)))
      .ingest(inbox, now)
  }

  for (aqe <- Seq(true, false))
    test(s"a second ingest into a fresh store at another time compiles nothing (AQE $aqe)") {
      val inbox = writeInbox()
      withAqe(aqe) {
        val first = ingestFresh(inbox, Timestamp.valueOf("2026-01-15 08:30:00"))
        val (second, n) = compiled(ingestFresh(inbox, Timestamp.valueOf("2026-02-20 17:45:12")))
        assert(second == first)
        assert(n == 0, s"the second ingest compiled $n class(es)")
      }
    }

  /** The plan's result with every parameter turned back into the literal
    * it stands for — what the same plan returned before parameters.
    */
  private def withLiterals(ds: Dataset[String]): Seq[String] = {
    ds.collect() // an adaptive plan settles into its final plan
    // one-document reads run as one stage: unwrap it whole
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case s: QueryStageExec => unwrap(s.plan)
      case other => other
    }
    val plan = unwrap(ds.queryExecution.executedPlan)
    assert(!plan.exists(_.isInstanceOf[QueryStageExec]), "more than one stage")
    assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ParamLiteral]))),
      "the plan carries no parameter")
    plan.transformAllExpressions { case p: ParamLiteral => p.toLiteral }
      .executeCollect().map(_.getUTF8String(0).toString).toSeq
  }

  test("parameterized reads return the literal plans' JSON byte for byte") {
    val (ds, ts, _) = fx.fixture(chartsPerDoc = 3)
    for (id <- Seq(1L, 150L, 300L)) {
      val got = ds.getDocument(id).toJSON
      assert(got.collect().toSeq == withLiterals(got), s"document $id")
      assert(got.collect().toSeq == fx.referenceDocument(ts, id).toJSON.collect().toSeq,
        s"document $id against the reference shape")
      assert(ds.getCharts(id).toJSON.collect().toSeq == withLiterals(ds.getCharts(id).toJSON),
        s"charts of $id")
    }
    for (id <- Seq(42L, 150L);
         (s, e) <- Seq((None, None), (Some(1), None), (None, Some(0)), (Some(1), Some(1)))) {
      val got = ds.getChunks(id, s, e).toJSON
      assert(got.collect().toSeq == withLiterals(got), s"chunks of $id in [$s, $e]")
      assert(fx.served(ds.getChunks(id, s, e)) == fx.served(fx.referenceChunks(ts, id, s, e)),
        s"chunks of $id in [$s, $e] against the reference shape")
    }
  }

  /** Operators of one whole-stage-codegen stage (its inputs excluded). */
  private def stageOps(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case other => other +: other.children.flatMap(stageOps)
  }

  test("scans keep the plain key; the post-scan filter reads it inside whole-stage code") {
    val (ds, _, _) = fx.fixture()
    val df = ds.getChunks(42L, Some(0), Some(1))
    df.collect()
    val ops = SparkJobs.operators(df.queryExecution.executedPlan)
    val scan = ops.collectFirst { case s: FileSourceScanExec => s }.get
    val b = IngestPipeline.chunkBucketScalar(42L, 16)
    assert(scan.metadata("PushedFilters").matches(""".*\b42\b.*"""), scan.metadata("PushedFilters"))
    assert(scan.metadata("PartitionFilters").matches(s""".*\\b$b\\b.*"""),
      scan.metadata("PartitionFilters"))
    assert(!scan.dataFilters.exists(_.exists(_.isInstanceOf[ParamLiteral])))
    assert(!scan.partitionFilters.exists(_.exists(_.isInstanceOf[ParamLiteral])))
    assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.contains(s"/doc_bucket=$b/")))
    val parameterized = ops.collect { case w: WholeStageCodegenExec => stageOps(w.child) }
      .flatten.collect {
        case f: FilterExec if f.condition.exists(_.isInstanceOf[ParamLiteral]) => f
      }
    assert(parameterized.nonEmpty, "no parameterized Filter inside whole-stage code")
  }

  test("plans that differ only in a parameter never share a canonical form") {
    val (ds, _, _) = fx.fixture()
    def plan(id: Long): SparkPlan = ds.getDocument(id).queryExecution.executedPlan
    val (a, b) = (plan(10L), plan(20L))
    assert(a.canonicalized != b.canonicalized && !a.sameResult(b))
    assert(plan(10L).sameResult(a))
    assert(ParamLiteral(1L, LongType).canonicalized != ParamLiteral(2L, LongType).canonicalized)
    assert(ParamLiteral(1L, LongType) != ParamLiteral(2L, LongType))
    // two branches that differ only in a key, each behind an exchange:
    // reusing one exchange for both would return one document twice
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val both = ds.documents.filter(col("id") === 10L).repartition(2)
        .union(ds.documents.filter(col("id") === 20L).repartition(2))
      assert(both.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 20L),
        s"AQE $aqe")
    }
  }

  for (wholeStage <- Seq(true, false))
    test(s"every parameterized type compiles to its literal's value (whole-stage $wholeStage)") {
      val key = "spark.sql.codegen.wholeStage"
      val prev = spark.conf.get(key)
      spark.conf.set(key, wholeStage.toString)
      try typesRoundTrip() finally spark.conf.set(key, prev)
    }

  private def typesRoundTrip(): Unit = {
    val day = Date.valueOf("2026-03-04")
    val at = Timestamp.valueOf("2026-03-04 05:06:07")
    val local = java.time.LocalDateTime.of(2026, 3, 4, 5, 6, 7)
    val df: DataFrame = spark.range(4).select(
      col("id"),
      (col("id").cast("byte") + lit(1.toByte)).as("b"),
      (col("id").cast("short") * lit(2.toShort)).as("s"),
      (col("id").cast("int") - lit(3)).as("i"),
      lit(day).as("d"), lit(at).as("t"), lit(local).as("ntz"))
      .filter(col("id") >= lit(1L) && col("b") <= lit(3.toByte))
    val plan = df.queryExecution.executedPlan
    val types = plan.flatMap(_.expressions.flatMap(_.collect {
      case p: ParamLiteral => p.dataType.typeName }))
    assert(Set("byte", "short", "integer", "long", "date", "timestamp", "timestamp_ntz")
      .subsetOf(types.toSet), types)
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getByte(1), r.getShort(2), r.getInt(3), r.getDate(4),
        r.getTimestamp(5), r.getAs[java.time.LocalDateTime](6))).toSeq
    assert(rows == Seq(1L, 2L).map(i =>
      (i, (i + 1).toByte, (i * 2).toShort, i.toInt - 3, day, at, local)))
  }
}
