package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{ExportIntegrity, TarExport}

/** [EXT] Continuous verified corpus delivery: a STREAMING frame of
  * training samples lands as WebDataset tar shards, one shard set per
  * micro-batch under `path/batch-<id>/`, with the export-root
  * `_manifest.jsonl` REPUBLISHED after every batch — the Structured
  * Streaming composition of [[TarExport.writeTarShards]] and
  * [[ExportIntegrity.writeManifest]], and the way an always-on curation
  * pipeline hands a trainer an ever-growing corpus it can verify at any
  * instant.
  *
  * The manifest is the delivery's COMMIT POINTER: it is rewritten by
  * atomic rename-over after each batch's shards are fully committed, so
  * a consumer that downloads whatever the manifest lists always gets a
  * consistent, verifiable prefix of the delivery — shards of an
  * in-flight batch exist on disk but are invisible to a manifest-driven
  * reader until the republish, and [[ExportIntegrity.verify]] over the
  * root is clean between (and after) every batch.
  *
  * Delivery semantics: foreachBatch is at-least-once across restarts,
  * and the exporter is BYTE-DETERMINISTIC — a replayed batch id
  * rewrites `batch-<id>/` with identical bytes through the atomic
  * rename-over commit, so replay converges instead of corrupting or
  * duplicating; the effective guarantee is exactly-once DELIVERY
  * (mirrors [[CdcStream]]'s idempotent-apply argument). Shard ids are
  * per-batch ordinals: globally unique as `batch-<id>/shard-<n>.tar`
  * paths (what the manifest addresses and loaders fetch); the numeric
  * `shard` column repeats across batch dirs, as it does across any two
  * exports.
  *
  * Manifest republish is INCREMENTAL (r17,
  * [[ExportIntegrity.writeManifestIncremental]]): delivered entries are
  * immutable, so prior manifest rows carry forward when the fresh
  * listing's (file, bytes, mtime) still matches, and only the new
  * batch's files are hashed — per-trigger cost is one LIST + O(batch)
  * reads, not O(history). A replayed batch re-commits its files (new
  * mtime), so its rows re-hash to the identical sha — replay still
  * converges. Run the full [[ExportIntegrity.verify]] sweep at delivery
  * handoff; the per-trigger validation is the stats-manifest idiom.
  */
object StreamingExport {

  def tarShards(stream: DataFrame, keyCol: Column, orderCols: Seq[Column],
                entries: Seq[(String, Column)], samplesPerShard: Long,
                path: String, checkpointDir: String,
                trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
                index: Boolean = false): StreamingQuery = {
    require(stream.isStreaming, "StreamingExport needs a streaming frame")
    val spark = stream.sparkSession
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          // the exporter scans its input more than once (denseIds'
          // determinism precondition) — pin the micro-batch first
          val (pinned, release) = graft.ops.LocalCheckpoint(batch)
          try {
            TarExport.writeTarShards(pinned, keyCol, orderCols, entries,
              samplesPerShard, s"$path/batch-$id", index).collect()
            // commit pointer: every shard of this batch is on disk —
            // only now does the manifest make the batch visible (the
            // trailing * also covers the .idx.jsonl sidecars of an
            // indexed delivery — they are part of what a loader fetches).
            // Incremental: prior batches' rows carry forward validated
            // against the fresh listing; only this batch's files hash.
            ExportIntegrity.writeManifestIncremental(spark, path,
              if (index) "batch-*/shard-*.tar*"
              else "batch-*/shard-*.tar").collect()
          } finally release()
          ()
        }
      }
      .start()
  }
}
