package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Quality}
import graft.ops.{ExportIntegrity, Packing, TarExport}
import graft.serve.DocumentStore

/** curate_export: the training-data path over a corpus ingested in
  * set-up, repeated for the run's seconds, each pass into a fresh export:
  * Gopher filter, MinHash near-duplicate pairs, duplicate clusters, keep
  * the canonical copy, pack sequences, write byte-sized tar shards with
  * their index, write the manifest, verify it. The first pass warms the
  * JIT and Spark's code-generation cache and is reported apart. In a
  * traced run the next pass is the untraced baseline, and one last pass
  * materializes each DataFrame-returning stage on its own so its time can
  * be attributed. */
object CurateExport {
  val SeqLen = 2048L
  val ShardBytes = 256L * 1024

  def run(env: Env): Map[String, Any] = {
    import env._
    var lastStore: (graft.store.TableStore, graft.store.ObjectStore) = null
    val setups = (1 to plan.int("setup_reps")).map { i =>
      if (lastStore != null) Disk.delete(s"$work/curate-${i - 1}")
      val t0 = nowS
      val (tables, objects, pipe) = store(s"$work/curate-$i")
      pipe.ingest(plan.str("corpus"))
      lastStore = (tables, objects)
      nowS - t0
    }
    val (tables, objects) = lastStore
    val docStore = new DocumentStore(spark, tables, objects)
    val names = tables.read("documents").select("id", "filename").collect()
      .map(r => r.getString(1) -> r.getLong(0)).toMap
    val nDocs = names.size

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var traceT0 = Long.MaxValue
    var traceT1 = 0L
    var traceWall = 0.0
    var tracedPasses = 0
    val tEnd = nowS + seconds
    var i = 0
    val minPasses = if (traced) 3 else 2
    while (i < minPasses || (!traced && nowS < tEnd)) {
      val tracing = traced && i >= minPasses - 1
      if (tracing) startTracing()
      val path = s"$work/export-$i"
      Disk.delete(path)
      val ms0 = epochMs
      val t0 = nowS
      var out: Pass = null
      ops.attempt(s"curate pass $i") { out = pass(docStore, path, tracing); true }
      val wall = nowS - t0
      if (tracing) {
        tracedPasses += 1
        traceWall += wall
        traceT0 = math.min(traceT0, ms0)
        traceT1 = epochMs
      }
      if (out != null) {
        checkExport(env, out, path, names)
        passes += Map("wall_s" -> wall, "warmup" -> (i == 0), "traced" -> tracing,
          "export_bytes" -> Disk.bytes(path))
        if (tracing) curateLayers(env, out, names, path, nDocs)
      }
      spark.catalog.clearCache()
      Disk.delete(path)
      i += 1
    }
    val heapMb = Heap.retainedMb()
    if (traced && tracedPasses > 0) {
      sparkLayers(traceT0, traceT1)
      val base = passes.drop(1).filterNot(_("traced").asInstanceOf[Boolean])
        .map(_("wall_s").asInstanceOf[Double])
      if (base.nonEmpty)
        layer("trace.overhead_share", traceWall / tracedPasses / Stat.median(base.toSeq) - 1)
      val opsSpans = Seq("ext.read", "ext.gopher", "ext.minhash_pairs", "ext.clusters",
        "ext.keep_canonical", "ops.pack", "ops.tar_write", "ops.manifest", "ops.verify")
      val spans = Trace.all
      opsSpans.foreach { s =>
        layer(s"${s}_s", spans.filter(_.name == s).map(x => (x.end - x.start) / 1e9).sum / tracedPasses)
      }
      // the largest task's share of the tar-write stage: 1.0 means the
      // export funnels through a single task
      val tarTasks = counters.tasks.toArray(Array.empty[TaskRec]).filter(_.span == "ops.tar_write")
      val byStage = tarTasks.groupBy(_.stageId)
      if (byStage.nonEmpty) {
        val (_, heaviest) = byStage.maxBy(_._2.map(_.runMs).sum)
        val total = heaviest.map(_.runMs).sum.toDouble
        layer("ops.max_task_share", if (total > 0) heaviest.map(_.runMs).max / total else 1.0)
      }
      storeLayers(tables, objects, (1L to math.min(10L, nDocs.toLong)),
        tables.read("chart_data").select("image_path").limit(10).collect().map(_.getString(0)).toSeq)
    }
    Map("workload" -> "curate_export", "setup_s" -> setups, "heap_retained_mb" -> heapMb,
      "documents" -> nDocs, "passes" -> passes.toSeq,
      "stored_bytes" -> (Disk.bytes(s"$work/curate-${plan.int("setup_reps")}")))
  }

  /** What a pass leaves for the checks and counters, which run after its
    * wall time is taken. */
  final class Pass(val kept: DataFrame, val pairs: DataFrame, val clusters: DataFrame,
                   val canon: DataFrame, val shards: Long, val statuses: Seq[String]) {
    lazy val canonical: Map[Long, String] =
      canon.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    lazy val reps: Map[Long, Long] =
      clusters.select(col("doc_id").cast("long"), col("cluster_rep").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
  }

  /** A DataFrame-returning stage: in a traced pass, the call runs in an
    * `eager:` span (jobs it starts before returning are eager jobs) and
    * the result is materialized inside the stage's own span. */
  private def stage(name: String, traced: Boolean)(build: => DataFrame): DataFrame =
    if (!traced) build
    else Trace.span(name) {
      val df = Trace.span(s"eager:$name") { build }.persist()
      df.count()
      df
    }

  def pass(store: DocumentStore, path: String, traced: Boolean): Pass = {
    val docs = stage("ext.read", traced) {
      store.chunks
        .groupBy(col("document_id"))
        .agg(sort_array(collect_list(struct(col("chunk_index"), col("text_content")))).as("cs"))
        .select(col("document_id").as("doc_id"),
          regexp_replace(concat_ws(" ", col("cs.text_content")), "\\s+", " ").as("text"))
    }
    val gopher = stage("ext.gopher", traced) { Quality.gopherFilter(docs, "doc_id", "text") }
    val kept = docs.join(gopher.filter(col("keep")).select("doc_id"), "doc_id")
    val pairs = stage("ext.minhash_pairs", traced) { Dedup.minhashNearDupPairs(kept, "doc_id", "text") }
    val clusters = stage("ext.clusters", traced) { Dedup.duplicateClusters(pairs) }
    val canon = stage("ext.keep_canonical", traced) {
      Dedup.keepCanonical(kept, clusters, "doc_id", length(col("text")))
        .filter(col("is_canonical")).drop("cluster_rep", "is_canonical")
        .withColumn("n_tokens", size(split(col("text"), " ")))
    }
    val packed = stage("ops.pack", traced) { Packing.packSequences(canon, "doc_id", "n_tokens", SeqLen) }
    val export = canon.join(packed.select("doc_id", "token_start", "seq_start", "seq_offset"), "doc_id")
    val acct = Trace.span("ops.tar_write") {
      TarExport.writeTarShardsByBytes(export,
        keyCol = format_string("doc-%08d", col("doc_id")),
        orderCols = Seq(col("token_start")),
        entries = Seq("txt" -> col("text"),
          "json" -> to_json(struct(col("doc_id"), col("seq_start"), col("seq_offset")))),
        maxShardBytes = ShardBytes, path = path, index = true).collect()
    }
    Trace.span("ops.manifest") { ExportIntegrity.writeManifest(store.documents.sparkSession, path) }
    val statuses = Trace.span("ops.verify") {
      ExportIntegrity.verify(store.documents.sparkSession, path).select("status").collect()
        .map(_.getString(0)).toSeq
    }
    new Pass(kept, pairs, clusters, canon, acct.length.toLong, statuses)
  }

  /** `verify` reports only `ok`, the shard samples read back from the
    * export equal the canonical documents (same keys, same text), and the
    * export matches the generator's planted structure: every planted
    * near-duplicate shares a cluster with its source, each group of a
    * source and its copies exports exactly one member, no low-quality
    * document is exported, and every other document is. */
  def checkExport(env: Env, p: Pass, path: String, names: Map[String, Long]): Unit = {
    val samples = TarExport.readTarSamples(env.spark, path).select("key", "entries").collect()
      .map(r => r.getString(0) -> new String(r.getMap[String, Array[Byte]](1)("txt"), "UTF-8")).toMap
    val want = p.canonical.map { case (id, t) => f"doc-$id%08d" -> t }
    env.check("shard samples equal the canonical documents", samples == want,
      s"${samples.size} samples, ${want.size} canonical, " +
        s"${samples.count { case (k, t) => !want.get(k).contains(t) }} differ")
    env.check("verify reports only ok", p.statuses.nonEmpty && p.statuses.forall(_ == "ok"),
      p.statuses.groupBy(identity).map { case (s, xs) => s"$s=${xs.size}" }.mkString(","))

    val roles = env.plan.rows("roles").map(r => (r(0), r(1), r(2)))
    val rep = p.reps
    val unclustered = roles.collect { case (n, "dup", src)
      if !rep.contains(names(n)) || rep.get(names(n)) != rep.get(names(src)) => n }
    env.check("every planted near-duplicate shares a cluster with its source",
      unclustered.isEmpty, s"${unclustered.size} not clustered: ${unclustered.take(5).mkString(",")}")
    val exported = samples.keySet
    def key(n: String) = f"doc-${names(n)}%08d"
    val junkOut = roles.collect { case (n, "junk", _) if exported(key(n)) => n }
    val groupsOff = roles.filter(_._2 != "junk").groupBy(_._3).collect {
      case (g, members) if members.count(m => exported(key(m._1))) != 1 =>
        members.map(m => s"${m._1}(id ${names(m._1)}, cluster ${rep.get(names(m._1))})")
          .mkString(g + " [", " ", "]") }
    val expected = roles.count(_._2 == "orig")
    env.check("the export keeps one document per planted group and no low-quality one",
      junkOut.isEmpty && groupsOff.isEmpty && exported.size == expected,
      s"${exported.size} exported, generator expects $expected; low-quality exported: " +
        s"${junkOut.take(5).mkString(",")}; groups without exactly one: " +
        groupsOff.take(5).mkString(","))
  }

  /** Counts of a traced pass: LSH candidates against verified pairs,
    * planted-pair recall, dropped share, shards and export size. */
  def curateLayers(env: Env, p: Pass, names: Map[String, Long], path: String, nDocs: Int): Unit = {
    import env._
    val bands = Dedup.minhashBands(p.kept, "doc_id", "text")
    val candidates = Dedup.lshCandidatePairs(bands).count()
    val verified = p.pairs.count()
    layer("ext.lsh_candidates", candidates.toDouble)
    layer("ext.verified_pairs", verified.toDouble)
    layer("ext.lsh_precision", if (candidates > 0) verified.toDouble / candidates else 1.0)
    val rep = p.reps
    val planted = plan.rows("roles").filter(_(1) == "dup").map(r => (names(r(0)), names(r(2))))
    val found = planted.count { case (a, b) => rep.contains(a) && rep.get(a) == rep.get(b) }
    layer("ext.planted_pair_recall", if (planted.isEmpty) 1.0 else found.toDouble / planted.size)
    layer("ext.dropped_share", 1.0 - p.canonical.size.toDouble / nDocs)
    layer("ops.shards", p.shards.toDouble)
    layer("ops.export_bytes_per_input_byte", Disk.bytes(path) / plan.dbl("input_bytes"))
  }
}
