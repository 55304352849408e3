package graft

/** Dev/judge tool: write `explain("formatted")` for every declared query
  * to `<outDir>/<name>_<suffix>.txt` — the optimization round's plan
  * evidence (Exchange counts, join strategies, PushedFilters/ReadSchema
  * are all visible in the formatted plan). Building a probe's frame runs
  * its fixture side effects (index builds, table writes) but never the
  * final query itself; with AQE on the dump is the INITIAL plan
  * (isFinalPlan=false), which is exactly the plan the optimizer
  * committed to before runtime re-planning.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [suffix] [serve|ingest|run]
  * SPARK_GRAFT_ONLY=a,b,c restricts to named queries. With `serve`, the
  * dump is instead the serving reads of the store `etl_ingest_pipeline`
  * ingests (`serve_<read>_<suffix>.txt`), each EXECUTED first so the file
  * shows the final adaptive plan the read ran. With `ingest`, it is every
  * query that ingest executes, in order (`ingest_<nn>_<action>_<suffix>.txt`),
  * plus `ingest_jobs_<suffix>.txt`: one line per Spark job of the ingest
  * with the stages and tasks it ran, its wall and task-run milliseconds
  * and its call site.
  * With `run`, each selected query is collected and every query it
  * executes is written, in order (`<name>_<nn>_<action>_<suffix>.txt`).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <outDir> [suffix] [serve|ingest|run]")
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = if (args.length > 2) args(2) else "before"
    java.nio.file.Files.createDirectories(outDir)
    val spark = GraftSession.localFromEnv()
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(
      names => SparkEntry.queries.filter(kv => names.contains(kv._1)))
    def formatted(qe: org.apache.spark.sql.execution.QueryExecution): String =
      qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    def write(name: String, plan: String): Unit = {
      java.nio.file.Files.write(
        outDir.resolve(s"${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] $name ok")
    }
    def dump(name: String, df: => org.apache.spark.sql.DataFrame): Unit =
      try write(name, formatted(df.queryExecution))
      catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    // every query `body` executes, in order: (action, formatted plan)
    def executed(body: => Any): Seq[(String, String)] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(action: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit =
          seen.add(action -> formatted(qe))
        override def onFailure(action: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      body
      // listener events arrive asynchronously: wait until they stop
      var n = -1
      while (n != seen.size) { n = seen.size; Thread.sleep(1000) }
      spark.listenerManager.unregister(listener)
      seen.toArray(Array.empty[(String, String)]).toSeq
    }
    if (args.lift(3).contains("ingest")) {
      val jobs = new JobTable
      spark.sparkContext.addSparkListener(jobs)
      executed(graft.probes.EtlProbes.ingestPipelineStore(spark, sfDir))
        .zipWithIndex.foreach { case ((action, plan), i) =>
          write(f"ingest_$i%02d_$action", plan)
        }
      spark.sparkContext.removeSparkListener(jobs)
      write("ingest_jobs", jobs.render())
    } else if (args.lift(3).contains("serve")) {
      val store = graft.probes.EtlProbes.ingestPipelineStore(spark, sfDir)
      val id = store.listDocuments(0, 1).head().getLong(0)
      def ran(df: org.apache.spark.sql.DataFrame) = { df.collect(); df }
      dump("serve_get_document", ran(store.getDocument(id)))
      dump("serve_get_chunks", ran(store.getChunks(id, Some(0), Some(1))))
      executed(store.getChunksJson(id, Some(0), Some(1))).foreach { case (_, plan) =>
        write("serve_get_chunks_json", plan)
      }
      dump("serve_get_charts", ran(store.getCharts(id)))
      dump("serve_list_documents", ran(store.listDocuments(0, 10)))
      dump("serve_list_documents_after", ran(store.listDocumentsAfter(id, 10)))
    } else if (args.lift(3).contains("run")) {
      selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        executed(fn(spark, sfDir).collect()).zipWithIndex.foreach { case ((action, plan), i) =>
          write(f"${name}_$i%02d_$action", plan)
        }
      }
    } else
      selected.toSeq.sortBy(_._1).foreach { case (name, fn) => dump(name, fn(spark, sfDir)) }
    spark.stop()
  }
}

/** Per-job cost table of everything a block runs: the stages and tasks
  * each job actually ran (stages skipped on a reused shuffle are not
  * counted), its wall time, the task-run time of its stages and the call
  * site of its result stage. Attach as a listener; read after the
  * block's listener events have arrived.
  */
private final class JobTable extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  private final class Job(val id: Int, val start: Long, val site: String) {
    var end = start
    var stages, tasks = 0
    var runMs = 0L
  }
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name)) +
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .fold("")(x => s" [sql $x]")
    val j = new Job(e.jobId, e.time, site)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach { j =>
      j.stages += 1
      j.tasks += e.stageInfo.numTasks
      j.runMs += Option(e.stageInfo.taskMetrics).fold(0L)(_.executorRunTime)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  def render(): String = synchronized {
    val rows = jobs.values.toSeq
    val lines = rows.map(j =>
      f"${j.id}%5d ${j.stages}%6d ${j.tasks}%5d ${j.end - j.start}%7d ${j.runMs}%11d  ${j.site}")
    (f"${"job"}%5s ${"stages"}%6s ${"tasks"}%5s ${"wall_ms"}%7s ${"task_run_ms"}%11s  call_site" +:
      lines :+
      f"${"all"}%5s ${rows.map(_.stages).sum}%6d ${rows.map(_.tasks).sum}%5d " +
        f"${rows.map(j => j.end - j.start).sum}%7d ${rows.map(_.runMs).sum}%11d")
      .mkString("", "\n", "\n")
  }
}
