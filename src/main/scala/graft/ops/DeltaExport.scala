package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Incremental corpus delivery: ship ONLY the samples a delivery
  * does not already contain. The 100 TB operation this exists for:
  * yesterday's delivery is 100 TB, today's curated corpus adds 0.5% —
  * re-exporting everything moves 100 TB and re-hashes 100 TB of
  * manifest; a delta export moves (and hashes) only the new samples.
  *
  * Layout contract: a delivery ROOT whose increments are subdirectories
  * (`<root>/<increment>/shard-NNNNN.tar` — the same two-level shape
  * [[graft.streaming.StreamingExport]] produces with `batch-<id>/`),
  * with one root `_manifest.jsonl` as the COMMIT POINTER over the whole
  * history. Each increment must be exported with `index=true`: the
  * sample-grain `.idx.jsonl` sidecars are what makes "which keys are
  * already delivered" an O(delivered samples) KEY read instead of an
  * O(corpus bytes) tar scan — [[exportDelta]] writes them
  * unconditionally and refuses a history that lacks them.
  *
  * Scale shape: delivered keys stream DISTRIBUTED from the index
  * sidecars (never collected), the new-sample decision is ONE key-only
  * anti-join exchange (strings, not documents), and the write tail is
  * the ordinary [[TarExport]] pipeline — one corpus exchange over the
  * NEW samples only. For a pipeline that runs many small increments
  * against a huge history, put a Bloom prefilter in front of the
  * anti-join ([[graft.ext.Dedup.bloomSubtract]] is that operator).
  *
  * Idempotence / crash story: an increment directory is visible only
  * once the root manifest lists it. Re-running a FAILED increment (dir
  * on disk, manifest never republished) first deletes the invisible
  * debris — stale shards from a larger earlier attempt must not
  * outlive a smaller retry. Re-running a PUBLISHED increment name
  * refuses loudly: history is append-only; pick a fresh name.
  */
object DeltaExport {

  /** Default shard glob: increments one level down, plus root-level
    * shards so a delivery started as a flat [[TarExport]] export can
    * grow increments.
    */
  val DeliveryGlob = "{shard-*.tar,*/shard-*.tar}"

  private def fsFor(spark: SparkSession, root: String) = {
    val dir = new org.apache.hadoop.fs.Path(root)
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  private def listGlob(spark: SparkSession, root: String,
                       glob: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val (fs, dir) = fsFor(spark, root)
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(dir, glob)))
      .map(_.toSeq.filter(_.isFile)).getOrElse(Seq.empty)
  }

  /** The distinct rendered keys already present in the delivery — read
    * distributed from the index sidecars. Empty frame for an empty (or
    * absent) root; refuses loudly when any shard lacks its sidecar,
    * because a delta computed against partial knowledge would silently
    * re-deliver samples.
    */
  def deliveredKeys(spark: SparkSession, root: String,
                    glob: String = DeliveryGlob): DataFrame = {
    val tars = listGlob(spark, root, glob)
    val idx = listGlob(spark, root, glob + ".idx.jsonl")
    if (tars.size != idx.size)
      throw new IllegalStateException(
        s"delta export needs a fully indexed delivery: ${tars.size} shard " +
          s"tar(s) match '$glob' under $root but ${idx.size} index " +
          "sidecar(s) — re-export (or compactTarShards) with index=true; " +
          "if this is an unpublished crashed increment, re-run exportDelta " +
          "with its name to clean it, or delete its directory")
    if (idx.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL("key STRING"))
    else TarExport.readTarIndex(spark, root, glob).select("key").distinct()
  }

  /** Export the samples of `df` whose rendered key is NOT yet in the
    * delivery under `root`, as the new increment
    * `root/<incrementName>/shard-*.tar` (+ index sidecars), then
    * republish the root manifest — the commit pointer that makes the
    * increment visible. Returns the increment's accounting frame
    * (`shard, n_samples, n_entries, payload_bytes, sha256`), pinned
    * driver-side (one row per shard), EMPTY when nothing was new — in
    * which case nothing is written and the manifest is untouched.
    *
    * Column semantics match [[TarExport.writeTarShards]] (`keyCol`
    * rendered as string — the same rendering the delivered-keys
    * anti-join uses; NULL entry column = skipped modality).
    */
  def exportDelta(df: DataFrame, keyCol: Column, orderCols: Seq[Column],
                  entries: Seq[(String, Column)], samplesPerShard: Long,
                  root: String, incrementName: String,
                  glob: String = DeliveryGlob): DataFrame = {
    require(incrementName.nonEmpty && !incrementName.contains("/") &&
      !incrementName.startsWith("_") && !incrementName.startsWith("."),
      s"increment name must be a plain visible directory name, got '$incrementName'")
    val spark = df.sparkSession
    val (fs, rootPath) = fsFor(spark, root)
    val deltaDir = new org.apache.hadoop.fs.Path(rootPath, incrementName)

    // append-only history: a PUBLISHED name never re-exports; an
    // unpublished dir is invisible crash debris and is wiped so stale
    // shards of a larger earlier attempt cannot outlive this retry
    val manifestPath = new org.apache.hadoop.fs.Path(rootPath,
      ExportIntegrity.ManifestName)
    if (fs.exists(deltaDir)) {
      // isEmpty puts its limit at the top of the plan: a limit under a
      // count would land inside a codegen stage and compile per call
      val published = fs.exists(manifestPath) &&
        !ExportIntegrity.readManifest(spark, root)
          .filter(col("file").startsWith(incrementName + "/"))
          .isEmpty
      if (published)
        throw new IllegalStateException(
          s"increment '$incrementName' is already published under $root — " +
            "delta history is append-only; pick a fresh increment name")
      fs.delete(deltaDir, true)
    }

    val existing = deliveredKeys(spark, root, glob)
    val kKey = Cols.fresh(df, "_delta_key")
    // pin the fresh set: the exporter scans its input more than once
    // (denseIds' determinism precondition), and the emptiness probe
    // below must see the same rows the write does
    val fresh = df
      .withColumn(kKey, keyCol.cast("string"))
      .join(existing.select(col("key").as(kKey)), Seq(kKey), "left_anti")
      .drop(kKey)
      .localCheckpoint()
    try {
      if (fresh.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(
            "shard BIGINT, n_samples BIGINT, n_entries BIGINT, " +
              "payload_bytes BIGINT, sha256 STRING"))
      else {
        val acct = TarExport.writeTarShards(fresh, keyCol, orderCols,
          entries, samplesPerShard,
          new org.apache.hadoop.fs.Path(rootPath, incrementName).toString,
          index = true)
        // run the export to completion BEFORE the manifest republish —
        // the manifest is the commit pointer, shards first
        val rows = acct.collect()
        // the trailing * also fingerprints the .idx.jsonl sidecars (a
        // glob * never crosses a path separator)
        ExportIntegrity.writeManifest(spark, root, glob + "*")
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), acct.schema)
      }
    } finally { fresh.unpersist(); () }
  }
}
