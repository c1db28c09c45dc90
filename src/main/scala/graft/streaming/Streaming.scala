package graft.streaming

import org.apache.spark.sql.SparkSession

/** Deployment defaults for streaming sessions — the product-surface
  * home of the two session-level settings the r19 optimization round
  * measured on the bench harness (OPTIMIZATION_r19.md Change 2) but
  * shipped only in `Bench.scala`:
  *
  *  1. **Checkpoint location hygiene.** Structured Streaming defaults
  *     its offset/commit/state-delta logs to `java.io.tmpdir`, which
  *     on many hosts is the most contended disk available; each
  *     stateful microbatch pays one delta write PER STATE PARTITION
  *     plus two log writes there (measured 2× per-batch cost on the
  *     scrub stage: 4.55 → 2.26 s/batch). A deployment should
  *     checkpoint to provisioned storage — this helper only fills the
  *     gap when the caller set nothing at all.
  *
  *  2. **State partitions sized to batch volume, not core count.**
  *     `spark.sql.shuffle.partitions` fixes the state-store partition
  *     count for the life of a streaming checkpoint, and each state
  *     partition costs a fixed per-microbatch commit regardless of
  *     rows. Sizing it as `clamp(expectedBatchRows / 25_000, 1,
  *     defaultParallelism)` derives from DATA VOLUME, so a
  *     production-size microbatch (millions of rows) still gets every
  *     core while a small tail gets exactly what its state needs
  *     (measured A/B, OPTIMIZATION_r19.md: 10 k-row batches at 32
  *     partitions cost 4.5 s/batch vs 0.9 s at the sized value).
  *
  * Call before `writeStream.start()` — Spark pins both values at
  * query start. Returns the session for chaining.
  */
object Streaming {

  /** rows per state partition at which an extra partition starts
    * paying for its fixed per-batch commit (measured, r19).
    */
  val RowsPerStatePartition: Int = 25000

  /** the volume-derived state-partition count for a microbatch of
    * `expectedBatchRows` on this session's parallelism.
    */
  def statePartitionsFor(spark: SparkSession,
      expectedBatchRows: Long): Int = {
    val cores = spark.sparkContext.defaultParallelism
    math.max(1L, math.min(cores.toLong,
      expectedBatchRows / RowsPerStatePartition)).toInt
  }

  /** Apply both deployment defaults. `checkpointDir = None` leaves an
    * existing `spark.sql.streaming.checkpointLocation` untouched and,
    * when none is set, falls back to a per-process directory under
    * `spark.local.dir` (the scratch disk the deployment already
    * provisioned) — never silently to `java.io.tmpdir`.
    */
  def sessionDefaults(spark: SparkSession, expectedBatchRows: Long,
      checkpointDir: Option[String] = None): SparkSession = {
    spark.conf.set("spark.sql.shuffle.partitions",
      statePartitionsFor(spark, expectedBatchRows).toString)
    checkpointDir match {
      case Some(d) => spark.conf.set(CheckpointKey, d)
      case None => checkpointFallback(spark)
    }
    spark
  }

  private val CheckpointKey = "spark.sql.streaming.checkpointLocation"

  /** When no streaming checkpoint location is set, put one under the
    * first `spark.local.dir` (a per-process directory); an existing
    * one is kept. Without `spark.local.dir` nothing is set.
    */
  def checkpointFallback(spark: SparkSession): Unit =
    if (spark.conf.getOption(CheckpointKey).forall(_.isEmpty))
      spark.conf.getOption("spark.local.dir")
        .map(_.split(",").head).foreach(d => spark.conf.set(
          CheckpointKey, s"$d/graft-ckpt-${ProcessHandle.current().pid()}"))
}
