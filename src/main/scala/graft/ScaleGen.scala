package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator: replicate the driver's sf0.1 tables ×N with
  * key remapping and per-replica decorrelation, so the scaled set
  * keeps the WORKLOAD SHAPE linear instead of exploding it:
  *
  *  - every surrogate/foreign key is offset by `replica * STRIDE` on
  *    BOTH sides of each join (orderkey/custkey/partkey/suppkey/...),
  *    so join selectivity and per-key group sizes are exactly those
  *    of sf0.1 — rows, groups and join outputs all scale ×N;
  *  - `documents.text` is character-rotated per replica (a Caesar
  *    rotation over [a-z], [A-Z] and [0-9]): token lengths, whitespace
  *    and duplicate-group structure inside a replica are preserved
  *    (replica 0 IS sf0.1), while cross-replica shingle/minhash/simhash
  *    similarity collapses to background noise — without this, every
  *    document would acquire N-1 near-duplicates and the pair-output
  *    of the dedup family would grow ×N² instead of ×N;
  *  - `embeddings.embedding` is cyclically rotated by replica index
  *    (norm-preserving, decorrelating), so ANN corpus size scales ×N
  *    while top-k output stays top-k;
  *  - fixed dimensions (region, nation) are copied as-is, like TPC-H
  *    scaling does.
  *
  * The nation/region foreign keys (c_nationkey, s_nationkey) are left
  * unchanged so dimension joins still hit.
  *
  * Usage: ScaleGen <inDir> <outDir> [factor=10]
  * The output layout matches TESTDATA.md (`<outDir>/<table>.parquet`),
  * so `SPARK_GRAFT_SF_DIR=<outDir>` benches it directly.
  */
object ScaleGen {
  /** Key offset between replicas — far above any sf0.1 key. */
  val Stride: Long = 1L << 32

  private def rotated(alphabet: String, by: Int): String = {
    val n = alphabet.length
    val k = ((by % n) + n) % n
    alphabet.substring(k) + alphabet.substring(0, k)
  }

  /** Per-replica Caesar rotation over letters and digits; replica 0 is
    * the identity, so queries anchored on original values still hit.
    */
  def rotateText(c: org.apache.spark.sql.Column, replica: Int)
      : org.apache.spark.sql.Column = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digits = "0123456789"
    translate(c, lower + upper + digits,
      rotated(lower, replica) + rotated(upper, replica) +
        rotated(digits, replica))
  }

  /** Replicate `df` ×factor, applying `remap(df, replicaCol)` per row.
    * The replica index is a column so the whole thing is one
    * narrow-map plan over a crossJoin with a tiny range — no shuffle.
    */
  private def replicate(df: DataFrame, factor: Int)(
      remap: (DataFrame, org.apache.spark.sql.Column) => DataFrame)
      : DataFrame = {
    val withR = df.crossJoin(
      df.sparkSession.range(factor.toLong).toDF("__replica"))
    remap(withR, col("__replica")).drop("__replica")
  }

  private def offset(c: String, r: org.apache.spark.sql.Column) =
    col(c) + r * Stride

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleGen <inDir> <outDir> [factor]")
    val (inDir, outDir) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = SparkEntry.sessionBuilder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .appName("graft-scalegen")
      // 32 shuffle partitions whatever the core count: a global
      // sort's range partitions become the output files (write below)
      .config("spark.sql.shuffle.partitions", "32")
      // events.ts is TIMESTAMP(NANOS): read it as a raw long and write
      // it back as a long, so Tables' read path sees the same shape it
      // sees on the driver's parquet (TESTDATA.md / Tables.scala)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def in(name: String): DataFrame =
      spark.read.parquet(s"$inDir/$name.parquet")
    def write(name: String, df: DataFrame, parts: Int): Unit = {
      // a handful of output files per table: enough read parallelism
      // for a local[32] bench without thousands of tiny files.
      // parts < 0 = the frame's own partitioning is meaningful (a
      // global sort's range partitions) — repartition would scramble it
      (if (parts < 0) df else df.repartition(parts))
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      System.err.println(s"[scalegen] wrote $name")
    }

    // fixed dims: copy
    write("region", in("region"), 1)
    write("nation", in("nation"), 1)

    write("customer", replicate(in("customer"), factor) { (df, r) =>
      df.withColumn("c_custkey", offset("c_custkey", r))
    }, 4)
    write("supplier", replicate(in("supplier"), factor) { (df, r) =>
      df.withColumn("s_suppkey", offset("s_suppkey", r))
    }, 2)
    write("part", replicate(in("part"), factor) { (df, r) =>
      df.withColumn("p_partkey", offset("p_partkey", r))
    }, 4)
    write("orders", replicate(in("orders"), factor) { (df, r) =>
      df.withColumn("o_orderkey", offset("o_orderkey", r))
        .withColumn("o_custkey", offset("o_custkey", r))
    }, 8)
    write("lineitem", replicate(in("lineitem"), factor) { (df, r) =>
      df.withColumn("l_orderkey", offset("l_orderkey", r))
        .withColumn("l_partkey", offset("l_partkey", r))
        .withColumn("l_suppkey", offset("l_suppkey", r))
    }, 32)
    write("events", {
      // ts arrives as a raw nanos long (TIMESTAMP(NANOS) parquet under
      // nanosAsLong) or as a real timestamp (a micros-typed testdata
      // set) — same dual shape graft.Tables handles; normalize to
      // micros first, then shift per replica
      val events = in("events")
      val tsMicros = events.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          (col("ts") / 1000L).cast("long")
        case _ => unix_micros(col("ts").cast("timestamp"))
      }
      val scaled = replicate(
        events.withColumn("ts", tsMicros), factor) { (df, r) =>
        df.withColumn("event_id", offset("event_id", r))
          .withColumn("user_id", offset("user_id", r))
          // shift each replica by one second so event-time windows get
          // ×N density, not ×N exact-duplicate timestamps
          .withColumn("ts", col("ts") + r * 1000000L)
      }
      // two contracts the driver's data honors and oracles rely on:
      //  - ts is a real parquet timestamp (DuckDB reads it natively;
      //    Tables passes it through);
      //  - ARRIVAL ORDER == event_id ORDER (last-write queries define
      //    "last" both ways and the driver's file satisfies both), so
      //    the scaled set is written globally sorted by event_id
      scaled.withColumn("ts", timestamp_micros(col("ts")))
        .orderBy("event_id")
    }, -1)
    write("documents", {
      val docs = in("documents")
      // one branch per replica: `translate`'s mapping argument must be
      // foldable, so the rotation cannot be a column expression
      (0 until factor).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * Stride))
          .withColumn("text", rotateText(col("text"), i))
      }.reduce(_ unionAll _)
    }, 8)
    write("embeddings", {
      val emb = in("embeddings")
      (0 until factor).map { i =>
        // cyclic rotation by replica: same norm, decorrelated direction
        val dim = emb.selectExpr("size(embedding) d").head().getInt(0)
        val k = i % dim
        val rot =
          if (k == 0) col("embedding")
          else concat(slice(col("embedding"), k + 1, dim - k),
            slice(col("embedding"), 1, k))
        emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * Stride))
          .withColumn("embedding", rot)
      }.reduce(_ unionAll _)
    }, 8)

    System.err.println(s"[scalegen] done: $outDir at ×$factor")
    spark.stop()
  }
}
