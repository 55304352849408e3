package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Defaults are chosen for the local[32] test harness but the same settings
  * are what we would ship to a 1000-executor cluster (AQE on, skew-join
  * handling on, broadcast threshold left to Spark's default, shuffle
  * partitions sized explicitly rather than the 200 default).
  */
object GraftSession {

  /** Configs every Graft session needs regardless of master. Also wires
    * the engine's native expressions (graft.functions.GraftExtensions) so
    * `graft_cosine(...)` is available to SQL and call_function users.
    */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // events.parquet has shipped as TIMESTAMP(NANOS) (which vanilla
      // Spark rejects — this conf reads it as long nanos) and as naive
      // micros; Tables.load normalizes either shape to TimestampType.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // document parsing is CPU-bound per FILE, not per byte: the default
      // 4MB open cost bins ~32 small PDFs into one 128MB read partition,
      // capping parse parallelism; a 16MB cost quarters the bin size so
      // small-file corpora fan out across executors
      .config("spark.sql.files.openCostInBytes", (16 * 1024 * 1024).toString)
      // RocksDB state store for ALL streaming state (r17): required by
      // transformWithState (StreamingDedup's per-entry MapState — O(1)
      // writes per arrival instead of full-value rewrites), and the
      // production choice for the other stateful ops too (changelog
      // checkpointing, state spills to local disk instead of executor
      // heap).
      // COMPATIBILITY: streaming checkpoints written before this change
      // (HDFS-heap provider, and for StreamingDedup the
      // flatMapGroupsWithState operator/state schema) are NOT resumable
      // under it — Spark refuses a provider swap mid-checkpoint with a
      // state-store error. Restarting a pre-r17 long-running query needs
      // a FRESH checkpointDir (for StreamingDedup, seed the new
      // checkpoint from the old corpus via StreamingDedup.seedEntries +
      // the initialEntries hook rather than replaying the feed).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // commit a per-trigger CHANGELOG instead of a full RocksDB snapshot
      // (snapshots still happen, asynchronously, every N deltas) — the
      // production setting that keeps trigger latency proportional to the
      // trigger's updates, exactly the per-entry write story StreamingDedup
      // relies on
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // fork-free local chmod (r22): without libhadoop, Hadoop's local fs
      // SHELLS OUT one `chmod` per created file/dir — the per-file fork
      // dominated every file-heavy operator at high core counts (streaming
      // sinks + state changelogs + .crc sidecars; profiled as most task
      // threads in forkAndExec/Thread.start0). NioLocalFileSystem performs
      // the identical chmod via java.nio. On clusters with native Hadoop
      // this is moot (NativeIO chmods in-process); file:// there is scratch
      // space only.
      .config("spark.hadoop.fs.file.impl",
        "graft.store.NioLocalFileSystem")
      // FileContext resolves file:// separately (streaming checkpoint
      // managers write offsets/commits/changelogs through it) — same
      // fork-free chmod for that tree
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.store.NioLocalFs")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Entries of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). A static
    * setting: the first session in a JVM fixes it for the JVM's life.
    *
    * The engine is one long-lived process that runs the same few query
    * shapes again and again, so the cache must hold all of them at once.
    * The default does not: one 80-document ingest call alone compiles
    * 101 classes, so every later call recompiles most of its own. Once
    * per-call values reach generated code as parameters
    * ([[graft.plans.ParameterizeLiterals]]) the working set is fixed,
    * and this size holds it with room to spare. Distinct classes each
    * part compiles in a cold JVM with an unbounded cache (4-vCPU host,
    * the benchmark's workloads): one 80-document ingest call 105, every
    * serving route 48, one curate pass 145, the streaming ingest of six
    * uploads 91 — 389 together, counting shared classes once per part;
    * twice that is 778. A whole traced ingest_bulk run compiles 261 and
    * a whole traced curate_export run 317.
    */
  val CodegenCacheEntries: Int = 1000

  /** The CLI mains' shared session: core count from SPARK_GRAFT_CPUS
    * (default 4), WARN logging — one place to evolve the entrypoint
    * session config instead of per-main copies.
    */
  def localFromEnv(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            shufflePartitions: Int = 32): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]"), shufflePartitions
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
