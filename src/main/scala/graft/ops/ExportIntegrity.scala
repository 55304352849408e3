package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Export manifest + distributed integrity verification — the
  * handoff contract for a delivered corpus. A 100 TB export changes
  * hands at least twice (object store → trainer's cluster → local
  * cache), and every hop can truncate, bit-rot, or half-copy a shard;
  * the standard remedy is a checksum manifest shipped WITH the data
  * (the `SHA256SUMS` convention; HuggingFace datasets and WebDataset
  * tooling both publish per-file checksums the loader verifies).
  *
  * Three composable pieces, format-agnostic — they fingerprint FILES,
  * so the same code covers tar shards ([[TarExport]]), gzipped JSONL
  * shards ([[Export]]), or a parquet snapshot:
  *
  *  - [[fingerprintFiles]]: the `(file, bytes, sha256)` frame for every
  *    file matching a glob — ONE listing, then one task per file
  *    streaming its bytes through the digest in fixed-size chunks
  *    (nothing buffers a whole file; a 2 GB shard hashes in O(chunk)
  *    memory).
  *  - [[writeManifest]]: fingerprint, then commit `_manifest.jsonl` at
  *    the export root — one JSON object per file, sorted by path, so
  *    the manifest itself is byte-deterministic and can be
  *    content-addressed. Committed by atomic rename (the
  *    [[TarExport.commitShard]] protocol): a reader never sees a
  *    partial manifest, and a re-publish replaces it with no absence
  *    window. Driver-side cost is O(files) rows — bounded: shard
  *    exports are sized ~100 MB–1 GB/file, so even 100 TB is ~10⁵
  *    manifest lines, a few MB.
  *  - [[verify]]: re-fingerprint the tree and diff it against the
  *    manifest → one row per file with status `ok` / `modified`
  *    (bytes or sha differ) / `missing` (listed, not on disk) /
  *    `unlisted` (on disk, not listed). An intact delivery is
  *    `verify(...).filter($"status" =!= "ok").isEmpty`. The hash work
  *    is the same one-task-per-file pass; the diff joins two
  *    O(files)-row frames — never the corpus.
  *
  * Determinism ties the pieces to the exporters: [[TarExport]] output
  * is byte-deterministic and its accounting frame carries the same
  * sha256 this fingerprinter computes, so
  * `writeManifest` after `writeTarShards` needs no trust in the write
  * path — the spec pins the two hashes equal.
  */
object ExportIntegrity {

  val ManifestName = "_manifest.jsonl"
  private val ManifestSchema = "file STRING, bytes BIGINT, sha256 STRING"

  /** Files the integrity surface never fingerprints: the manifest
    * itself, Spark's `_SUCCESS` marker, checksum sidecars, and hidden
    * temp files (in-flight shard attempts are `.`-prefixed).
    */
  private def excluded(name: String): Boolean =
    name == ManifestName || name == "_SUCCESS" ||
      name.startsWith(".") || name.endsWith(".crc")

  /** One LIST call: `(relative path, length, mtime)` for every
    * non-excluded file under `path` matching `glob`, sorted by path.
    */
  private def listRelativeFull(spark: SparkSession, path: String,
                               glob: String): Seq[(String, Long, Long)] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = fs.makeQualified(dir).toUri
    val matched = fs.globStatus(new org.apache.hadoop.fs.Path(dir, glob))
    if (matched == null) Seq.empty
    else matched.toSeq
      .filter(_.isFile)
      .map(st => (rootUri.relativize(st.getPath.toUri).getPath, st.getLen,
        st.getModificationTime))
      .filterNot { case (rel, _, _) => excluded(rel.split('/').last) }
      .sortBy(_._1)
  }

  private def listRelative(spark: SparkSession, path: String,
                           glob: String): Seq[(String, Long)] =
    listRelativeFull(spark, path, glob).map { case (r, n, _) => (r, n) }

  /** `(file, bytes, sha256)` for every file under `path` matching
    * `glob` (relative paths, sorted). One LIST call; one task per file;
    * each file streamed through SHA-256 in 64 KiB chunks.
    */
  def fingerprintFiles(spark: SparkSession, path: String,
                       glob: String = "*"): DataFrame =
    hashRels(spark, path, listRelative(spark, path, glob).map(_._1))

  /** The per-file streaming-hash pass over an EXPLICIT relative-path
    * list (the fingerprint machinery minus the listing — what the
    * incremental republish calls on just the new files).
    */
  private def hashRels(spark: SparkSession, path: String,
                       rels: Seq[String]): DataFrame = {
    import spark.implicits._
    val confMap = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    spark.createDataset(rels)
      .repartition(math.max(1, math.min(rels.size,
        spark.sparkContext.defaultParallelism)))
      .map { rel =>
        val conf = new org.apache.hadoop.conf.Configuration()
        confMap.foreach { case (k, v) => conf.set(k, v) }
        val p = new org.apache.hadoop.fs.Path(path, rel)
        val fs = p.getFileSystem(conf)
        val digest = java.security.MessageDigest.getInstance("SHA-256")
        val in = fs.open(p)
        var n = 0L
        try {
          val buf = new Array[Byte](64 * 1024)
          var read = in.read(buf)
          while (read >= 0) {
            if (read > 0) { digest.update(buf, 0, read); n += read }
            read = in.read(buf)
          }
        } finally in.close()
        (rel, n, digest.digest().map("%02x".format(_)).mkString)
      }
      .toDF("file", "bytes", "sha256")
      // not `.orderBy`: a range exchange samples its child for boundaries,
      // re-running the hashing map — every delivery file would stream
      // through SHA-256 twice (see TarExport.writeSharded); one row per
      // file, so a single-partition sort is bounded
      .repartition(1).sortWithinPartitions("file")
  }

  /** Serialize sorted `(file, bytes, sha256, mtime)` rows as
    * `_manifest.jsonl` and commit by atomic rename. The `mtime` field
    * (epoch ms, r17) is what lets the INCREMENTAL republish validate a
    * carried-forward row without re-reading the file — readers that
    * follow the `SHA256SUMS`-style contract ignore it.
    */
  private def commitManifest(spark: SparkSession, path: String,
                             rows: Seq[(String, Long, String, Long)]): Unit = {
    def esc(s: String): String =
      s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c    => c.toString
      }
    val dir = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".$ManifestName.${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try {
      for ((f, n, sha, mt) <- rows.sortBy(_._1)) {
        val line = s"""{"file":"${esc(f)}","bytes":$n,""" +
          s""""sha256":"$sha","mtime":$mt}""" + "\n"
        out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    } finally out.close()
    TarExport.commitShard(fs, conf, tmp,
      new org.apache.hadoop.fs.Path(dir, ManifestName))
  }

  /** Fingerprint the tree and commit `_manifest.jsonl` at the export
    * root (sorted, one JSON object per line, atomic rename — see
    * object doc). Returns the manifest frame just written.
    */
  def writeManifest(spark: SparkSession, path: String,
                    glob: String = "*"): DataFrame = {
    import spark.implicits._
    val listing = listRelativeFull(spark, path, glob)
    val mtimes = listing.map { case (r, _, mt) => r -> mt }.toMap
    // bounded: one row per export file (see object doc)
    val hashed = hashRels(spark, path, listing.map(_._1))
      .as[(String, Long, String)].collect()
    commitManifest(spark, path,
      hashed.toSeq.map { case (f, n, sha) => (f, n, sha, mtimes(f)) })
    spark.createDataset(hashed.toSeq.sortBy(_._1))
      .toDF("file", "bytes", "sha256")
  }

  /** INCREMENTAL manifest republish — the per-batch commit step of a
    * long-running streaming delivery. Entries under an export root are
    * immutable (batches only ever ADD files; a replayed batch rewrites
    * identical bytes), so re-hashing the whole delivered history on
    * every micro-batch — O(history) reads per trigger — buys nothing:
    * this variant carries forward every prior manifest row whose
    * (file, bytes, mtime) still matches the ONE fresh listing, and
    * hashes only files that are new (or whose stats changed, e.g. a
    * replayed batch re-committed over a torn write). Per-trigger cost:
    * one LIST + hash reads proportional to the BATCH, not the history.
    *
    * Validation is the stats-manifest idiom (rel + length + mtime),
    * hardened against COARSE mtime granularity: object stores stamp
    * 1-second timestamps, so a same-length rewrite landing inside the
    * same tick as the original write (a replayed batch re-committed
    * over a torn write) would be stat-invisible. Rows whose mtime is
    * within `mtimeSlackMs` of the republish clock therefore re-hash
    * even when their stats match — only rows at least one granularity
    * tick OLD ride the carry. Beyond the slack, a same-length
    * same-mtime silent rewrite is still invisible to stats — that is
    * the fingerprint sweep [[verify]] exists for; run it at delivery
    * handoff, not per trigger. Manifests published before the mtime
    * field carry no mtime → their rows re-hash ONCE, then ride.
    *
    * @param mtimeSlackMs re-hash horizon: files modified within this
    *                     many ms of the republish clock never carry
    *                     forward (default 2 s — two 1 s object-store
    *                     ticks); the steady-state cost is re-hashing
    *                     the most recent batch once more. The clock
    *                     reference is the NEWEST LISTED MTIME, not the
    *                     driver clock: store-stamped mtimes compare
    *                     against store-stamped time, so a store clock
    *                     that lags or leads the driver cannot silently
    *                     re-open the same-tick window — the newest
    *                     file (where a torn-write re-commit lands by
    *                     construction) is always inside the horizon
    * @return the full manifest frame just committed
    */
  def writeManifestIncremental(spark: SparkSession, path: String,
                               glob: String = "*",
                               mtimeSlackMs: Long = 2000L): DataFrame = {
    import spark.implicits._
    require(mtimeSlackMs >= 0L, s"mtimeSlackMs must be >= 0, got $mtimeSlackMs")
    val listing = listRelativeFull(spark, path, glob)
    // skew-immune slack reference: store-stamped mtimes compare against
    // store-stamped time (the newest listed file) — see the param doc
    val now = listing.iterator.map(_._3).maxOption
      .getOrElse(System.currentTimeMillis())
    val prior: Map[String, (Long, String, Option[Long])] =
      readManifestEntries(spark, path)
        .map { case (f, n, sha, mt) => f -> (n, sha, mt) }.toMap
    val (carried, fresh) = listing.partition { case (rel, len, mt) =>
      mt + mtimeSlackMs <= now &&
        prior.get(rel).exists { case (pn, _, pmt) =>
          pn == len && pmt.contains(mt)
        }
    }
    val carriedRows = carried.map { case (rel, len, mt) =>
      (rel, len, prior(rel)._2, mt)
    }
    val freshMt = fresh.map { case (r, _, mt) => r -> mt }.toMap
    val freshRows = hashRels(spark, path, fresh.map(_._1))
      .as[(String, Long, String)].collect().toSeq
      .map { case (f, n, sha) => (f, n, sha, freshMt(f)) }
    val rows = (carriedRows ++ freshRows).sortBy(_._1)
    commitManifest(spark, path, rows)
    spark.createDataset(rows.map { case (f, n, sha, _) => (f, n, sha) })
      .toDF("file", "bytes", "sha256")
  }

  /** The committed manifest as a frame (`file`, `bytes`, `sha256`).
    * Fails loudly when no manifest was published. Parsed driver-side:
    * the manifest is O(files) small, and the `_`-prefix that keeps it
    * out of every DATA read (Spark's hidden-file rule, the shard
    * globs) also hides it from `spark.read.json`.
    */
  def readManifest(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val m = new org.apache.hadoop.fs.Path(path, ManifestName)
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(m))
      throw new java.io.IOException(
        s"no $ManifestName under $path — publish one with writeManifest before verifying")
    spark.createDataset(
      readManifestEntries(spark, path)
        .map { case (f, n, sha, _) => (f, n, sha) })
      .toDF("file", "bytes", "sha256")
  }

  /** Driver-side manifest entries including the optional mtime field
    * (absent on pre-r17 manifests); empty when no manifest exists —
    * the incremental republish's bootstrap case.
    */
  private def readManifestEntries(
      spark: SparkSession,
      path: String): Seq[(String, Long, String, Option[Long])] = {
    val m = new org.apache.hadoop.fs.Path(path, ManifestName)
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(m)) return Seq.empty
    val in = fs.open(m)
    val text = try {
      new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    val line = ("""\{"file":"((?:[^"\\]|\\.)*)","bytes":(\d+),""" +
      """"sha256":"([0-9a-f]{64})"(?:,"mtime":(\d+))?\}""").r
    def unesc(s: String): String = {
      val b = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) s.charAt(i + 1) match {
          case 'u' => b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case c   => b += c; i += 2
        } else { b += s.charAt(i); i += 1 }
      }
      b.result()
    }
    text.split('\n').filter(_.nonEmpty).toSeq.map {
      case line(f, n, sha, mt) =>
        (unesc(f), n.toLong, sha, Option(mt).map(_.toLong))
      case other => throw new java.io.IOException(
        s"unparseable $ManifestName line under $path: $other")
    }
  }

  /** Deterministic shard→worker assignment for a distributed loader —
    * the `split_by_node` / `split_by_worker` step of the WebDataset
    * convention, driven by the published manifest so every node
    * computes the SAME split with no coordination: round-robin over the
    * manifest's sorted file order, `worker = rank mod workers`. O(files)
    * driver-side arithmetic over the already-small manifest frame.
    * Round-robin is the loader default (shard sizes are already
    * near-uniform when the export used a byte budget); use
    * [[assignShardsBalanced]] when sizes are skewed.
    */
  def assignShardsRoundRobin(manifest: DataFrame, workers: Int): DataFrame = {
    require(workers > 0, s"workers must be positive, got $workers")
    val spark = manifest.sparkSession
    import spark.implicits._
    // the manifest is O(files) small — a driver-side fold is the right
    // plan (no corpus machinery, and no global window for the scale
    // sweep to squint at), exactly like [[assignShardsBalanced]]
    val out = manifest.select(col("file"), col("bytes"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
      .zipWithIndex
      .map { case ((f, b), i) => (f, b, i % workers) }
    spark.createDataset(out.toSeq).toDF("file", "bytes", "worker")
  }

  /** Size-balanced shard→worker assignment: greedy longest-processing-
    * time — files descending by size, each to the currently-lightest
    * worker — so a skewed delivery (an oversized straggler shard, a
    * short tail batch) still loads evenly. Deterministic: ties in size
    * break by file name, ties in load by worker index. The classic LPT
    * bound applies (max load ≤ avg + largest file). Driver-side fold
    * over the O(files) manifest.
    */
  def assignShardsBalanced(manifest: DataFrame, workers: Int): DataFrame = {
    require(workers > 0, s"workers must be positive, got $workers")
    val spark = manifest.sparkSession
    import spark.implicits._
    val files = manifest.select(col("file"), col("bytes"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (f, b) => (-b, f) }
    val loads = Array.fill(workers)(0L)
    val out = files.map { case (f, b) =>
      val w = loads.indices.minBy(i => (loads(i), i))
      loads(w) += b
      (f, b, w)
    }
    spark.createDataset(out.toSeq).toDF("file", "bytes", "worker")
  }

  /** Diff the tree against its manifest: one row per file,
    * `(file, status, expected_bytes, actual_bytes, expected_sha256,
    * actual_sha256)` ordered by file; `status` is `ok`, `modified`,
    * `missing`, or `unlisted`. Hash cost is one streaming task per
    * file; the diff is a full-outer join of two O(files)-row frames.
    */
  def verify(spark: SparkSession, path: String,
             glob: String = "*"): DataFrame =
    verifyAgainst(spark, path,
      fingerprintFiles(spark, path, glob)
        .select(col("file"), col("bytes").as("actual_bytes"),
          col("sha256").as("actual_sha256")))

  /** Size-only verification: ONE listing, zero reads — the first-pass
    * an operator actually runs over a 100 TB delivery before paying for
    * the full hash sweep. Catches truncation, missing files, and alien
    * files (the common delivery faults — a partial copy is almost never
    * the same length); by construction it CANNOT see a same-size
    * corruption (a flipped bit), which `actual_sha256 = NULL` in the
    * output makes explicit. Escalate to [[verify]] when quick comes
    * back clean but the delivery matters.
    */
  def verifyQuick(spark: SparkSession, path: String,
                  glob: String = "*"): DataFrame = {
    import spark.implicits._
    verifyAgainst(spark, path,
      spark.createDataset(listRelative(spark, path, glob))
        .toDF("file", "actual_bytes")
        .withColumn("actual_sha256", lit(null).cast("string")))
  }

  /** Shared diff: manifest LEFT FULL-OUTER actual, status per file. A
    * null actual sha (quick mode) compares bytes only — `modified`
    * then means the LENGTH changed.
    */
  private def verifyAgainst(spark: SparkSession, path: String,
                            actual: DataFrame): DataFrame = {
    val expected = readManifest(spark, path)
      .select(col("file"), col("bytes").as("expected_bytes"),
        col("sha256").as("expected_sha256"))
    expected.join(actual, Seq("file"), "full_outer")
      .select(col("file"),
        when(col("expected_sha256").isNull, lit("unlisted"))
          .when(col("actual_bytes").isNull, lit("missing"))
          .when((col("actual_sha256").isNotNull &&
            col("expected_sha256") =!= col("actual_sha256")) ||
            col("expected_bytes") =!= col("actual_bytes"), lit("modified"))
          .otherwise(lit("ok")).as("status"),
        col("expected_bytes"), col("actual_bytes"),
        col("expected_sha256"), col("actual_sha256"))
      // one row per export file (manifest ∪ directory listing), so a
      // single-partition sort is bounded — and unlike `.orderBy` it runs
      // no RangePartitioner sampling pass over the join
      .repartition(1).sortWithinPartitions("file")
  }
}
