package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.etl.{Chunker, Images, Ner, Parse}

/** ingest_bulk: the uploader's flow. Each iteration ingests the seeded
  * inbox with one `IngestPipeline.ingest` call into a fresh store, then
  * reads the documents back through `HttpShim` on loopback (one closed-
  * loop client, the same number of document, chunk-range, page and
  * chart-image requests, in a seeded order). Iterations repeat for the
  * run's seconds.
  *
  * Set-up (repeated, median reported) is what serving a store takes: open
  * the tables and the bucket, start the shim and answer the first document
  * read. It serves a small store ingested once, untimed, beforehand; that
  * ingest also warms the JIT for the timed calls. A traced run makes two
  * iterations: an untraced one as the overhead baseline, then a traced
  * one. */
object IngestBulk {
  /** The phases `IngestPipeline` reports through its `onPhase` hook that
    * sit inside `ids_writes_stats`. */
  val WritePhases = Seq("ids_docs", "ids_chunks", "ids_charts", "write_documents",
    "write_chunks", "blob_puts", "write_charts")

  def run(env: Env): Map[String, Any] = {
    import env._
    val inbox = plan.str("inbox")
    val expect: Map[String, (Int, Int)] =
      plan.rows("expect").map(r => r(0) -> (r(1).toInt, r(2).toInt)).toMap
    // the reads of one iteration: every route equally often, in a seeded order
    val rng = new java.util.Random(plan.int("seed").toLong)
    val routes = Serve.Routes.flatMap(r => Seq.fill(plan.int("reads_per_route"))(r))

    // untimed warm-up: a small ingest, which also gives set-up a store to serve
    val warmDir = s"$work/warm-store"
    store(warmDir)._3.ingest(plan.str("warm"))
    val setups = (1 to plan.int("setup_reps")).map { _ =>
      val t0 = nowS
      val tables = new graft.store.TableStore(spark, s"$warmDir/tables")
      val objects = new graft.store.ObjectStore(spark, s"$warmDir/bucket")
      val (_, shim, client) = Serve.start(env, tables, objects, s"$warmDir/inbox")
      ops.attempt("set-up read") {
        val (st, body) = client.get("/documents/1")
        st == 200 && Serve.text(body).startsWith("{\"id\":1,")
      }
      shim.stop()
      nowS - t0
    }
    Disk.delete(warmDir)

    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val reads = mutable.ArrayBuffer.empty[Serve.Read]
    val phases = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var traceT0 = Long.MaxValue
    var traceT1 = 0L
    var tracedWall = 0.0
    var tracedCalls = 0
    var fsWritten = 0L
    var last: (String, graft.store.TableStore, graft.store.ObjectStore,
      graft.pipeline.IngestPipeline, IndexedSeq[Serve.Doc]) = null
    val tEnd = nowS + seconds
    var i = 0
    // at least two iterations, as the metrics are medians over them; a
    // traced run stops after its untraced baseline and one traced iteration
    while (i < 2 || (!traced && nowS < tEnd)) {
      val tracing = traced && i > 0
      if (tracing) startTracing()
      if (last != null) Disk.delete(last._1)
      val dir = s"$work/store-$i"
      val (tables, objects, pipe) = store(dir, onPhase = (n, s) =>
        if (tracing) { phases(n) += s; Trace.record(s"pipeline.$n", s) })
      val fs0 = FsStats.snap()
      val ms0 = epochMs
      val t0 = nowS
      var stats: graft.pipeline.IngestStats = null
      ops.attempt(s"ingest call $i") {
        stats = Trace.span("pipeline.ingest") { pipe.ingest(inbox) }
        true
      }
      val wall = nowS - t0
      if (tracing) {
        fsWritten += (FsStats.snap() - fs0).bytesWritten
        tracedCalls += 1
        tracedWall += wall
      }
      if (stats != null) {
        val docs = Serve.storedDocs(tables)
        docs.foreach { case (name, d) =>
          val (chunks, charts) = expect(name)
          check(s"call $i: $name stored with the generator's chunk and chart counts",
            d.chunks == chunks && d.charts.size == charts,
            s"${d.chunks} chunks, ${d.charts.size} charts; generator $chunks, $charts")
        }
        val ids = tables.read("documents")
          .agg(min("id"), max("id"), count(lit(1)), countDistinct("id")).head()
        calls += Map(
          "wall_s" -> wall, "traced" -> tracing,
          "documents" -> stats.documents, "chunks" -> stats.chunks, "charts" -> stats.charts,
          "blobs" -> Disk.count(s"$dir/bucket", ".png"),
          "id_min" -> ids.getLong(0), "id_max" -> ids.getLong(1),
          "id_count" -> ids.getLong(2), "id_distinct" -> ids.getLong(3),
          "stored_bytes" -> Disk.bytes(dir))
        val byId = docs.values.toVector.sortBy(_.id)
        val (docStore, shim, client) = Serve.start(env, tables, objects, s"$dir/inbox")
        try {
          val mine = Serve.readAll(env, client, new scala.util.Random(rng).shuffle(routes), byId, rng)
          if (!tracing) reads ++= mine
          else Serve.probeLayers(env, docStore, client, byId, mine, rng)
        } finally shim.stop()
        last = (dir, tables, objects, pipe, byId)
      }
      if (tracing) {
        traceT0 = math.min(traceT0, ms0)
        traceT1 = epochMs
      }
      i += 1
    }
    val heapMb = Heap.retainedMb()

    if (traced && tracedCalls > 0 && last != null) {
      val n = tracedCalls.toDouble
      (Seq("parse_chunk_ner") ++ WritePhases).foreach(p => layer(s"pipeline.${p}_s", phases(p) / n))
      layer("pipeline.unattributed_s",
        (phases("ids_writes_stats") - WritePhases.map(phases).sum) / n)
      layer("pipeline.jobs_per_ingest",
        counters.jobs.toArray(Array.empty[JobRec]).count(_.span == "pipeline.ingest") / n)
      layer("store.fs_bytes_written_per_input_byte", fsWritten / n / plan.dbl("input_bytes"))
      sparkLayers(traceT0, traceT1)
      val untraced = calls.filterNot(_("traced").asInstanceOf[Boolean])
        .map(_("wall_s").asInstanceOf[Double])
      if (untraced.nonEmpty)
        layer("trace.overhead_share", (tracedWall / n) / Stat.median(untraced.toSeq) - 1)
      etlLayers(env, inbox, plan.int("etl_sample"))
      val (dir, tables, objects, pipe, docs) = last
      storeLayers(tables, objects, docs.map(_.id).take(10),
        docs.filter(_.charts.nonEmpty).take(10).map(d => objects.chartKey(d.id, d.charts.head)))
      Serve.streamLayers(env, pipe, tables, objects, dir,
        plan.rows("uploads").map(r => (r(0), r(1))), plan.dbl("upload_rate"))
    }
    Map("workload" -> "ingest_bulk", "setup_s" -> setups, "heap_retained_mb" -> heapMb,
      "calls" -> calls.toSeq,
      "reads" -> reads.map(r => Map("route" -> r.route, "ms" -> r.ms, "ok" -> r.ok,
        "status" -> r.status)))
  }

  /** Direct one-thread calls of the etl functions on the workload's own
    * documents: per-document parse and chunk cost, per-chunk NER cost and
    * per-chart render cost. */
  def etlLayers(env: Env, inbox: String, sample: Int): Unit = {
    val files = Option(new java.io.File(inbox).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".pdf")).sortBy(_.getName).take(sample)
    val parser = new Parse.TextDocParser
    var parseNs, chunkNs, nerNs, renderNs = 0L
    var chunks, charts = 0L
    files.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      var t = System.nanoTime()
      val doc = Trace.span("etl.parse") { parser.parse(f.getPath, bytes) }
      parseNs += System.nanoTime() - t
      t = System.nanoTime()
      val cs = Trace.span("etl.chunk") { Chunker.chunk(doc) }
      chunkNs += System.nanoTime() - t
      t = System.nanoTime()
      cs.foreach(c => Trace.span("etl.ner") { Ner.extract(c.serialized) })
      nerNs += System.nanoTime() - t
      t = System.nanoTime()
      val ps = Trace.span("etl.render") { Images.extractCharts(doc) }
      renderNs += System.nanoTime() - t
      chunks += cs.size
      charts += ps.size
    }
    val d = math.max(1, files.length).toDouble
    env.layer("etl.parse_ms_per_doc", parseNs / 1e6 / d)
    env.layer("etl.chunk_ms_per_doc", chunkNs / 1e6 / d)
    env.layer("etl.ner_ms_per_chunk", if (chunks > 0) nerNs / 1e6 / chunks else 0.0)
    env.layer("etl.render_ms_per_chart", if (charts > 0) renderNs / 1e6 / charts else 0.0)
    env.layer("etl.chunks_per_doc", chunks / d)
    env.layer("etl.charts_per_doc", charts / d)
  }
}
