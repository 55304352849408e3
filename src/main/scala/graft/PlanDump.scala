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
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [suffix] [serve|ingest]
  * SPARK_GRAFT_ONLY=a,b,c restricts to named queries. With `serve`, the
  * dump is instead the serving reads of the store `etl_ingest_pipeline`
  * ingests (`serve_<read>_<suffix>.txt`), each EXECUTED first so the file
  * shows the final adaptive plan the read ran. With `ingest`, it is every
  * query that ingest executes, in order (`ingest_<nn>_<action>_<suffix>.txt`).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <outDir> [suffix] [serve|ingest]")
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
      executed(graft.probes.EtlProbes.ingestPipelineStore(spark, sfDir))
        .zipWithIndex.foreach { case ((action, plan), i) =>
          write(f"ingest_$i%02d_$action", plan)
        }
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
    } else
      selected.toSeq.sortBy(_._1).foreach { case (name, fn) => dump(name, fn(spark, sfDir)) }
    spark.stop()
  }
}
