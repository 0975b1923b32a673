package graft

import org.apache.spark.sql.SparkSession
import graft.functions.GraftExtensions

/** The one session policy of every graft entry point (Bench, Verify,
  * Main, ApiServer) and of the test suites.
  *
  *  - master: `SPARK_MASTER` when set (a deployment address), else
  *    `local[cores]`; shuffle partitions = `cores`.
  *  - the AQE coalescing floor [[MinCoalesce]] and 16 MiB
  *    `maxPartitionBytes`, both explained below.
  *  - UTC session time zone, UI off, log level WARN.
  *  - streaming checkpoints through [[CheckpointFileManager]], explained
  *    below.
  *  - [[GraftExtensions]], so pure-SQL users of the session resolve every
  *    function in [[graft.functions.GraftFunctions.catalog]] without an
  *    `install`.
  */
object GraftSession {
  /** AQE coalescing floor. parallelismFirst (default true) already aims
    * post-shuffle parallelism at the session's core count, but its 1 MiB
    * minPartitionSize floor — tuned for clusters
    * where a task's scheduling overhead is network-bound — collapses any
    * compact-typed intermediate below ~32 MiB to a handful of tasks, so
    * CPU-dense reduce stages (rolling windows, shingle aggregates) ran
    * 1-wide at bench SFs (measured: q_rolling_corr 4.7 s -> 1.9 s (64 KiB),
    * etl_tx_features 4.3 s -> 1.8 s; 128 KiB keeps ~95% of that while
    * costing multi-round tiny-stage queries like text_bpe_merges least).
    * MEASURED at sf10 (r14, 3-query A/B, best-of-3 each, two 128k runs to
    * bound spread): 128k {rolling_corr 27.8/33.3, etl_tx 35.0/29.9,
    * kll_grouped 8.5/8.9} vs 1m {36.3, 30.0, 7.7} — every delta within or
    * near the per-query run spread except rolling_corr, where 128k is
    * still the FASTER side (its compact intermediate is ~1 MiB/task at
    * sf10, so the 1 MiB floor still over-coalesces there). A coalescing
    * floor can only limit coalescing, never split, so its worst case at
    * any scale is more, smaller reduce tasks — no size-conditional guard
    * needed, and at production scale, where every post-shuffle partition
    * is at least the advisory size, it is inert. */
  val MinCoalesce = "128k"

  /** Scale sweeps read SINGLE parquet files per table; the default
    * 128 MiB maxPartitionBytes gives a 500 MiB sf100 documents file only
    * 4 input splits, and every codegen stage PIPELINED onto that scan
    * (explode → join → agg) inherits 4-way parallelism on a 32-core box
    * (round-11 finding: sf100 stage 172 ran exactly 4 tasks for 70+
    * minutes — the parallelism-inheritance class at the scan itself,
    * where no repartition sits upstream to fix it). 16 MiB is the same
    * knob a real cluster tunes for its executor count; tiny driver
    * fixtures still get 1 split. */
  private val MaxPartitionBytes: Long = 16L * 1024 * 1024

  /** Streaming checkpoint files (offsets, commits, state-store deltas and
    * checksums) go through the FileSystem API instead of Spark's default
    * FileContext manager. On a local or mounted path without libhadoop,
    * the FileContext manager's `renameTempFile` shells out to `readlink`
    * for every file it renames. A JFR recording of one `stream_ingest`
    * benchmark JVM held 3 466 `jdk.ProcessStart` events; 2 560 were that
    * `readlink`, and 2 240 of the 3 466 came from the threads of Spark
    * 4.1's `ChecksumCheckpointFileManager` writing state-store files. A
    * probe with this manager cut the workload's `latency_p50_ms` from
    * 1063 to 868 ms (3 pairs, 4 cores). Both managers write a temp file
    * and rename it into place, which is atomic on local disks and HDFS, so
    * a crash leaves either the old file or the new one. */
  val CheckpointFileManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** The cores a main runs on: `SPARK_GRAFT_CPUS` when set, else the whole
    * box. Results do not depend on it (every query's row order is
    * deterministic); only wall-clock does. */
  def mainCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(app: String, cores: Int = mainCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", MinCoalesce)
      .config("spark.sql.files.maxPartitionBytes", MaxPartitionBytes)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        CheckpointFileManager)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
