package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.pipeline.{IngestPipeline, ProcessingConfig}
import graft.store.{ObjectStore, TableStore}

/** Benchmark harness: runs one workload against graft's public API and
  * writes its raw measurements as JSON for the Python runner, which turns
  * them into metrics and checks them against the generator's
  * expectations.
  *
  * Usage: perfbench.Main <plan.properties>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val plan = new Plan(args(0))
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.localFromEnv()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val env = new Env(spark, plan)
    val out =
      try plan.str("workload") match {
        case "ingest_bulk"   => IngestBulk.run(env)
        case "curate_export" => CurateExport.run(env)
        case other           => sys.error(s"unknown workload '$other'")
      } finally {
        Trace.on = false
        spark.streams.active.foreach(_.stop())
      }
    val common = Map[String, Any](
      "session_s" -> sessionS,
      "attempted" -> env.ops.attempted.get,
      "failed" -> env.ops.failed.get,
      "errors" -> env.ops.errorList,
      "checks" -> env.checks.toSeq,
      "layers" -> env.layers.toMap,
      "spans" -> (if (env.traced) Trace.json else Nil))
    val w = new java.io.PrintWriter(plan.str("result"), "UTF-8")
    try w.write(Json.render(out ++ common)) finally w.close()
    spark.stop()
  }
}

/** What every workload shares: the session, the plan, failure accounting,
  * named correctness checks and (traced runs) the per-layer metrics. */
final class Env(val spark: SparkSession, val plan: Plan) {
  val traced: Boolean = plan.bool("trace")
  val seconds: Double = plan.dbl("seconds")
  val work: String = plan.str("work")
  val ops = new Ops
  val counters = new SparkCounters
  val checks = ArrayBuffer.empty[Map[String, Any]]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Streaming progress seen by the listener: (batch id, trigger seconds,
    * input rows). */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Long)]
  /** Rows the parquet scans of finished queries produced, and how many
    * query-end events carried them (QueryExecutionListener). */
  val scanRows = new java.util.concurrent.atomic.AtomicLong
  val queryEvents = new java.util.concurrent.atomic.AtomicLong
  private var tracing = false

  /** Switch the traced run from its untraced baseline to tracing: spans
    * on, and the Spark, streaming, query and log listeners attached. */
  def startTracing(): Unit = if (traced && !tracing) {
    tracing = true
    Trace.sc = spark.sparkContext
    spark.sparkContext.addSparkListener(counters)
    LogCounter.install()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        progress.add((p.batchId, ms / 1e3, p.numInputRows))
      }
    })
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit = {
        scanRows.addAndGet(ScanRows.of(qe))
        queryEvents.incrementAndGet()
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = queryEvents.incrementAndGet()
    })
    Trace.on = true
  }

  /** Wait (bounded) until the asynchronous query listener saw `n` events. */
  def awaitQueryEvents(n: Long): Unit = {
    val end = System.currentTimeMillis() + 5000
    while (queryEvents.get < n && System.currentTimeMillis() < end) Thread.sleep(20)
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))

  def layer(name: String, v: Double): Unit = layers(name) = v

  /** A fresh store (tables + object bucket) and its ingest pipeline.
    * `onPhase` receives the pipeline's named phase timings. */
  def store(dir: String, onPhase: (String, Double) => Unit = (_, _) => ())
      : (TableStore, ObjectStore, IngestPipeline) = {
    Disk.delete(dir)
    val tables = new TableStore(spark, s"$dir/tables")
    val objects = new ObjectStore(spark, s"$dir/bucket")
    (tables, objects,
      new IngestPipeline(spark, tables, objects, ProcessingConfig(), onPhase = onPhase))
  }

  def nowS: Double = System.nanoTime() / 1e9
  def epochMs: Long = System.currentTimeMillis()

  /** Spark-side counters over [t0Ms, t1Ms] for the traced run. */
  def sparkLayers(t0Ms: Long, t1Ms: Long): Unit = {
    val tasks = counters.tasksIn(t0Ms, t1Ms)
    val jobs = counters.jobsIn(t0Ms, t1Ms)
    val stageIds = tasks.map(_.stageId).distinct
    val mb = 1024.0 * 1024.0
    layer("spark.jobs", jobs.size.toDouble)
    layer("spark.stages", stageIds.size.toDouble)
    layer("spark.tasks", tasks.size.toDouble)
    layer("spark.task_run_s", tasks.map(_.runMs).sum / 1e3)
    layer("spark.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9)
    val run = tasks.map(_.runMs).sum / 1e3
    layer("spark.task_cpu_per_run", if (run > 0) tasks.map(_.cpuNs).sum / 1e9 / run else 0.0)
    layer("spark.gc_s", tasks.map(_.gcMs).sum / 1e3)
    layer("spark.shuffle_write_mb", tasks.map(_.shuffleWrite).sum / mb)
    layer("spark.shuffle_read_mb", tasks.map(_.shuffleRead).sum / mb)
    layer("spark.spill_mb", tasks.map(_.spill).sum / mb)
    layer("spark.input_mb", tasks.map(_.input).sum / mb)
    layer("spark.output_mb", tasks.map(_.output).sum / mb)
    layer("spark.fetch_wait_s", tasks.map(_.fetchWaitMs).sum / 1e3)
    layer("spark.sched_delay_p50_ms",
      if (tasks.isEmpty) 0.0 else Stat.median(tasks.map(_.schedDelayMs.toDouble)))
    layer("spark.eager_jobs", jobs.count(_.span.startsWith("eager:")).toDouble)
    layer("spark.warn_codegen_fallback", LogCounter.codegenFallback.get.toDouble)
    layer("spark.warn_unpartitioned_window", LogCounter.unpartitionedWindow.get.toDouble)
  }

  /** Store-layer probes on a populated store: max-id footer pass, a
    * stats-pruned point read and the files it plans, table file counts
    * and object-store get/put. */
  def storeLayers(tables: TableStore, objects: ObjectStore, ids: Seq[Long],
                  chartKeys: Seq[String]): Unit = {
    val ownTables = Seq("documents", "document_chunks", "chart_data").filter(tables.exists)
    val maxIdMs = ownTables.flatMap { t =>
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Trace.span("store.maxId") { tables.maxId(t, "id") }
        (System.nanoTime() - t0) / 1e6
      }
    }
    layer("store.maxid_ms", Stat.median(maxIdMs))
    val probeIds = ids.take(10)
    val pointMs = ArrayBuffer.empty[Double]
    val planned = ArrayBuffer.empty[Double]
    probeIds.foreach { id =>
      val t0 = System.nanoTime()
      val df = Trace.span("store.readRange") { tables.readRange("documents", "id", id, id) }
      val rows = Trace.span("store.readRange") { df.collect() }
      pointMs += (System.nanoTime() - t0) / 1e6
      planned += df.inputFiles.length.toDouble
      ops.attempt(s"point read of document $id") { rows.length == 1 }
    }
    layer("store.point_read_ms", Stat.median(pointMs.toSeq))
    layer("store.files_planned_per_point_read", Stat.median(planned.toSeq))
    val reports = ownTables.map(t => tables.tableReport(t))
    layer("store.files_per_table", reports.map(_.files.toDouble).sum / math.max(1, reports.size))
    layer("store.small_files_end", reports.map(_.smallFiles.toDouble).sum)
    val getMs = chartKeys.take(10).map { k =>
      val t0 = System.nanoTime()
      ops.attempt(s"object get $k") { Trace.span("store.objectGet") { objects.get(k) }.nonEmpty }
      (System.nanoTime() - t0) / 1e6
    }
    layer("store.object_get_ms", if (getMs.isEmpty) 0.0 else Stat.median(getMs))
    val scratch = new ObjectStore(spark, s"$work/object-probe")
    val payload = Array.fill[Byte](20000)(7)
    val putMs = (1 to 10).map { i =>
      val t0 = System.nanoTime()
      Trace.span("store.objectPut") { scratch.put(s"probe/$i.png", payload) }
      (System.nanoTime() - t0) / 1e6
    }
    layer("store.object_put_ms", Stat.median(putMs))
  }
}
