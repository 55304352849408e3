package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.IngestPipeline
import graft.serve.{DocumentStore, HttpShim}
import graft.store.{ObjectStore, TableStore}

/** The REST side of a workload: `HttpShim` on loopback over a populated
  * store, read through its public routes by one closed-loop client. */
object Serve {
  final case class Read(route: String, ms: Double, ok: Boolean, status: Int)

  /** One stored document as the reads see it. */
  final case class Doc(id: Long, chunks: Int, charts: Seq[Long])

  val Routes = Seq("get_document", "get_chunks", "list_page", "chart_image")

  private val Png = Array(0x89, 0x50, 0x4e, 0x47).map(_.toByte)
  private val IdName = "\"id\":(\\d+),\"filename\":\"([^\"]*)\"".r
  private val ChunkIdx = "\"chunk_index\":(\\d+)".r
  private val DocId = "\\{\"id\":(\\d+),".r

  def text(b: Array[Byte]): String = new String(b, "UTF-8")

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()

    def get(path: String): (Int, Array[Byte]) = {
      val r = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(Duration.ofSeconds(60)).GET().build(), HttpResponse.BodyHandlers.ofByteArray())
      (r.statusCode, r.body)
    }

    /** Multipart upload, the reference's `UploadFile` contract. */
    def upload(name: String, data: Array[Byte]): Int = {
      val b = "perfbench" + java.lang.Long.toHexString(System.nanoTime())
      val head = (s"--$b\r\nContent-Disposition: form-data; name=\"file\"; " +
        s"filename=\"$name\"\r\nContent-Type: application/pdf\r\n\r\n").getBytes("UTF-8")
      val tail = s"\r\n--$b--\r\n".getBytes("UTF-8")
      http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/documents/upload"))
        .timeout(Duration.ofSeconds(60))
        .header("Content-Type", s"multipart/form-data; boundary=$b")
        .POST(HttpRequest.BodyPublishers.ofByteArray(head ++ data ++ tail)).build(),
        HttpResponse.BodyHandlers.ofByteArray()).statusCode
    }
  }

  /** The stored documents (dense ids 1..n are checked by the caller) with
    * their chunk counts and chart ids. */
  def storedDocs(tables: TableStore): Map[String, Doc] = {
    val charts = tables.read("chart_data").select("document_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (d, xs) => d -> xs.map(_._2).sorted.toSeq }
    tables.read("documents").select("id", "filename", "total_chunks").collect()
      .map(r => r.getString(1) -> Doc(r.getLong(0), r.getInt(2), charts.getOrElse(r.getLong(0), Nil)))
      .toMap
  }

  /** Request path of `route` and the check its answer must pass:
    * the requested id, chunks in ascending order with the range size
    * asked for, a page of consecutive ids, PNG bytes. */
  def request(route: String, docs: IndexedSeq[Doc], rng: java.util.Random)
      : (String, Array[Byte] => Boolean) = route match {
    case "get_document" =>
      val d = docs(rng.nextInt(docs.size))
      (s"/documents/${d.id}", b => text(b).startsWith(s"""{"id":${d.id},"""))
    case "get_chunks" =>
      val d = docs(rng.nextInt(docs.size))
      val a = rng.nextInt(d.chunks)
      val e = a + rng.nextInt(4)
      val want = (a to math.min(e, d.chunks - 1)).toSeq
      (s"/documents/${d.id}/chunks?start_chunk=$a&end_chunk=$e",
        b => ChunkIdx.findAllMatchIn(text(b)).map(_.group(1).toInt).toSeq == want)
    case "list_page" =>
      val skip = rng.nextInt(math.max(1, docs.size - 10 + 1))
      val want = ((skip + 1L) to math.min(skip + 10L, docs.size.toLong)).toSeq
      (s"/documents?skip=$skip&limit=10",
        b => DocId.findAllMatchIn(text(b)).map(_.group(1).toLong).toSeq == want)
    case "chart_image" =>
      val withCharts = docs.filter(_.charts.nonEmpty)
      val d = withCharts(rng.nextInt(withCharts.size))
      val c = d.charts(rng.nextInt(d.charts.size))
      (s"/documents/${d.id}/charts/$c", b => b.length > 8 && b.take(4).sameElements(Png))
  }

  /** Send `routes` in order through `client`; every read is one counted
    * operation. */
  def readAll(env: Env, client: Client, routes: Seq[String], docs: IndexedSeq[Doc],
              rng: java.util.Random): Seq[Read] =
    routes.map { route =>
      val (path, verify) = request(route, docs, rng)
      var status = 0
      val t0 = System.nanoTime()
      val ok = env.ops.attempt(s"$route $path") {
        val (st, body) = Trace.span(s"serve.$route") { client.get(path) }
        status = st
        if (st != 200) env.ops.note(s"$route $path answered $st: ${text(body.take(300))}")
        st == 200 && verify(body)
      }
      Read(route, (System.nanoTime() - t0) / 1e6, ok, status)
    }

  def start(env: Env, tables: TableStore, objects: ObjectStore, uploadDir: String)
      : (DocumentStore, HttpShim, Client) = {
    val store = new DocumentStore(env.spark, tables, objects)
    val shim = new HttpShim(store, uploadDir)
    val port = shim.start()
    (store, shim, new Client(port))
  }

  /** Traced run: each route requested on its own so the Spark jobs, Hadoop
    * FS bytes and parquet scan rows of a read can be counted, plus
    * direct `DocumentStore` calls on the same ids. */
  def probeLayers(env: Env, docStore: DocumentStore, client: Client, docs: IndexedSeq[Doc],
                  reads: Seq[Read], rng: java.util.Random): Unit = {
    import env._
    Routes.foreach { r =>
      val xs = reads.filter(_.route == r).map(_.ms)
      layer(s"serve.${r}_p50_ms", if (xs.isEmpty) 0.0 else Stat.median(xs))
    }
    layer("serve.non2xx_share",
      if (reads.isEmpty) 0.0 else reads.count(r => r.status < 200 || r.status > 299).toDouble / reads.size)
    val perRoute = 4
    val fs0 = FsStats.snap()
    var all = 0
    Routes.foreach { route =>
      val a = epochMs
      readAll(env, client, Seq.fill(perRoute)(route), docs, rng)
      Thread.sleep(100) // listener events are asynchronous
      val jobs = counters.jobsIn(a, epochMs).count(!_.stream)
      layer(s"serve.jobs_per_read.$route", jobs.toDouble / perRoute)
      all += jobs
    }
    layer("serve.jobs_per_read", all.toDouble / (perRoute * Routes.size))
    // Hadoop's local file system counts bytes only (its read, list and
    // write operation counters stay 0 on file://)
    val fs = FsStats.snap() - fs0
    layer("store.fs_bytes_read_per_read", fs.bytesRead.toDouble / (perRoute * Routes.size))

    val ids = docs.take(5).map(_.id)
    val ev0 = queryEvents.get
    val rows0 = scanRows.get
    var returned = 0L
    val direct = ids.map { id =>
      val t = System.nanoTime()
      returned += docStore.getDocument(id).toJSON.collect().length
      (System.nanoTime() - t) / 1e6
    }
    ids.foreach(id => returned += docStore.getChunks(id, Some(0), Some(2)).collect().length)
    awaitQueryEvents(ev0 + 2L * ids.size)
    layer("serve.direct_get_document_ms", Stat.median(direct))
    layer("serve.shim_overhead_ms",
      layers.getOrElse("serve.get_document_p50_ms", 0.0) - Stat.median(direct))
    layer("spark.scan_rows_per_row_returned",
      if (returned > 0) (scanRows.get - rows0).toDouble / returned else 0.0)
  }

  /** Traced run: streaming ingest behind the upload route. Uploads go
    * through `POST /documents/upload` at `rate` per second into the
    * watched directory; the client polls the keyset listing until each
    * one is served. Trigger numbers come from the streaming listener. */
  def streamLayers(env: Env, pipe: IngestPipeline, tables: TableStore, objects: ObjectStore,
                   dir: String, uploads: Seq[(String, String)], rate: Double): Unit = {
    import env._
    val inbox = s"$dir/inbox"
    new java.io.File(inbox).mkdirs()
    val firstNew = tables.maxId("documents", "id")
    val query = pipe.ingestStream(inbox, s"$dir/checkpoint",
      trigger = Trigger.ProcessingTime("500 milliseconds"))
    val (_, shim, client) = start(env, tables, objects, inbox)
    val names = uploads.map(_._1).toSet
    val acked = scala.collection.mutable.Map.empty[String, Double]
    val seen = scala.collection.mutable.Map.empty[String, Double]
    val upMs = ArrayBuffer.empty[Double]
    val streamMs0 = epochMs
    try {
      val t0 = nowS
      uploads.zipWithIndex.foreach { case ((name, path), i) =>
        val wait = t0 + i / rate - nowS
        if (wait > 0) Thread.sleep((wait * 1000).toLong)
        val data = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
        val s = nowS
        val ok = ops.attempt(s"upload $name") {
          Trace.span("serve.upload") { client.upload(name, data) } == 200
        }
        if (ok) acked(name) = nowS
        upMs += (nowS - s) * 1e3
      }
      val deadline = nowS + 60
      var after = firstNew
      while (seen.size < acked.size && nowS < deadline) {
        val (st, body) = client.get(s"/documents?after_id=$after&limit=1000")
        val at = nowS
        if (st == 200) IdName.findAllMatchIn(text(body)).foreach { m =>
          after = math.max(after, m.group(1).toLong)
          if (names(m.group(2)) && !seen.contains(m.group(2))) seen(m.group(2)) = at
        }
        Thread.sleep(100)
      }
    } finally {
      query.stop()
      shim.stop()
    }
    acked.keys.filterNot(seen.contains).foreach(n => ops.fail(s"upload $n never became visible"))
    val visible = seen.map { case (n, at) => at - acked(n) }.toSeq
    layer("serve.upload_p50_ms", if (upMs.isEmpty) 0.0 else Stat.median(upMs.toSeq))
    layer("serve.visible_p50_s", if (visible.isEmpty) 0.0 else Stat.median(visible))
    val prog = progress.toArray(Array.empty[(Long, Double, Long)]).toSeq
    val busy = prog.filter(_._3 > 0)
    layer("pipeline.trigger_p50_s", if (busy.isEmpty) 0.0 else Stat.median(busy.map(_._2)))
    layer("pipeline.trigger_max_s", if (busy.isEmpty) 0.0 else busy.map(_._2).max)
    layer("pipeline.batch_docs_p50", if (busy.isEmpty) 0.0 else Stat.median(busy.map(_._3.toDouble)))
    layer("pipeline.empty_trigger_share",
      if (prog.isEmpty) 0.0 else prog.count(_._3 == 0).toDouble / prog.size)
    val streamJobs = counters.jobsIn(streamMs0, epochMs).count(_.stream)
    layer("pipeline.stream_jobs_per_batch",
      if (busy.isEmpty) 0.0 else streamJobs.toDouble / busy.size)
  }
}
