package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1+ (bench). At
  * cluster scale the same code reads a partitioned table root; nothing here
  * assumes single-file inputs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Widen-only spread for compute-heavy text scans (r19 optimization
    * round). The bench-scale `documents.parquet` is a single row group
    * → ONE scan partition, so the gram/signature/minhash compute of
    * every text operator fed from it runs as a single task while the
    * other cores idle (optimization guide §2.5: input skew from an
    * unsplittable input — "repartition immediately after the read").
    * Round-robin repartition to `defaultParallelism` when — and only
    * when — the scan is narrower: a real multi-file corpus is already
    * parallel and never pays the extra text shuffle, so the knob is
    * scale-adaptive, not a local[32] constant. Callers must only feed
    * operators whose results are partitioning-independent (hash/gram
    * set algebra; no layout-derived ids — `shuffleShards` keeps the
    * raw scan).
    */
  def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // Cap the spread at 8: every task pays a fixed ~40-150 ms of
    // per-task codegen source regeneration (measured via stage
    // metrics: runMs≈constant per task across 3 k-row and 100 k-row
    // partitions), so tasks beyond "real compute ÷ fixed cost" are
    // pure overhead. 8 tasks captured the full wall win of the
    // quadratic gram joins at 4-6× less CPU than defaultParallelism
    // (A/B in OPTIMIZATION_r19.md); a wider box still gets 8-way
    // relief. Fire only when the scan is narrower than the TARGET
    // (not than the core count): a scan that already has ≥8 splits —
    // e.g. the ×100 set's multi-file layout — gains nothing from a
    // same-width repartition and would pay a full text shuffle for it.
    // The split count is probed from the LAZY physical scan
    // (sparkPlan.execute() builds the scan RDD without running it, the
    // same probe PlanBuilder's narrow-input spread uses) — `df.rdd`
    // would instantiate the plan through the AQE path once per call
    // site, double-planning the scan on the driver (r19 verdict #7).
    // Sound here because every caller passes a narrow frame (a
    // Tables() scan, possibly under projections — no exchanges).
    val target = math.min(par, 8)
    val n = scala.util.Try(
      df.queryExecution.sparkPlan.execute().getNumPartitions)
      .getOrElse(df.rdd.getNumPartitions)
    if (n < target) df.repartition(target)
    else df
  }

  /** Session-level plan-fragment cache: the resolved scan DataFrame per
    * (session, dir, table). `spark.read.parquet` re-lists the path and
    * re-reads footers to infer the schema on EVERY call — ~17 mt_* and
    * 80 battery queries each re-paid that driver work per run (r19
    * verdict #5: per-query planning floor). The cached object is a
    * LOGICAL PLAN (relation + file index + schema), not data: every
    * action against it still scans parquet, so this is plan reuse, not
    * result caching. Keyed on the session so Verify's pooled threads
    * and multi-session tests never cross-wire.
    */
  private val planCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS), which Spark's TimestampType
    // (micros) cannot represent natively; read it as a long and convert.
    // Sub-microsecond precision is dropped — queries that compare or emit
    // event time truncate to seconds on both the Spark and oracle side.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the engine's dialect is mtail's: conversion errors null out and
    // drop the line (vm.go:97-129), never fail the job
    spark.conf.set("spark.sql.ansi.enabled", "false")
    planCache.computeIfAbsent((spark, sfDir, name), _ => load(spark,
      sfDir, name))
  }

  private def load(spark: SparkSession, sfDir: String,
      name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.functions._
      // the driver's parquet carries TIMESTAMP(NANOS) (arrives here as
      // a long, via nanosAsLong); a regenerated/scaled set may already
      // carry a native TIMESTAMP(MICROS) column — convert only the
      // long shape, pass a real timestamp through
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            timestamp_micros((col("ts") / 1000L).cast("long")))
        case _ => df
      }
    } else df
  }
}
