package graft

import org.apache.spark.sql.functions._

/** ×100 recall witness for the banded-LSH near-dup path (r16 verdict
  * order #3): `ann_lsh_near_dup`'s DuckDB oracle twin is quadratic on
  * both sides (~600 M candidate pairs at ×100), so the ×100 slice
  * could never gate it. This witness closes the gap WITHOUT the
  * quadratic oracle: plant `nPlant` seeded near-duplicates (exact
  * cosine `plantCos` by Gram-Schmidt construction — the expected
  * value is known analytically, no oracle engine needed) into the
  * ×`factor` replicated embedding corpus, run the PRODUCTION banded
  * path, and verify recall on the planted subset plus exact-cosine
  * precision on everything reported.
  *
  * Banding at ×100 uses 16-bit tables (65 536 buckets/table) — the
  * corpus-size-scaled setting a real deployment picks (the sf0.01
  * oracle query's 8-bit tables keep 256 buckets only because its twin
  * must terminate in DuckDB). Expected candidate recall for a pair at
  * cos 0.99: (1-θ/π)^16 = 0.955^16 ≈ 0.48 per table, 1-(1-0.48)^8
  * ≈ 0.995 across 8 tables.
  *
  * Prints one JSON line: planted/found/recall, total pairs, min
  * reported cosine ≥ threshold (precision is exact by construction —
  * every candidate is cosine-verified), wall seconds.
  */
object ScaleWitness {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val nPlant = if (args.length > 1) args(1).toInt else 200
    val plantCos = 0.99
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = SparkEntry.sessionBuilder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val t0 = System.nanoTime()
    val emb = Tables(spark, sf01, "embeddings")
      .select(col("vec_id").cast("long"), col("embedding"))
    val dim = emb.selectExpr("size(embedding) d").head().getInt(0)
    val nBase = emb.count()

    // ×factor replication, ScaleGen's exact recipe: cyclic rotation
    // per replica (norm-preserving, decorrelating), ids offset by
    // replica * Stride
    val corpus = (0 until factor).map { i =>
      val k = i % dim
      val rot =
        if (k == 0) col("embedding")
        else concat(slice(col("embedding"), k + 1, dim - k),
          slice(col("embedding"), 1, k))
      emb.select(
        (col("vec_id") + lit(i.toLong * ScaleGen.Stride)).as("vec_id"),
        rot.as("embedding"))
    }.reduce(_ unionAll _)

    // planted near-duplicates: for base vector e (replica 0), emit
    // e' = cos·ê + sin·û with û ⊥ e built by Gram-Schmidt from a
    // deterministic pseudo-noise vector — cos(e, e') = plantCos
    // EXACTLY, id far above every replica id
    val bases = emb.orderBy("vec_id").limit(nPlant)
      .as[(Long, Array[Float])].collect()
    val plantBase = ScaleGen.Stride * (factor + 7L)
    val planted = bases.zipWithIndex.map { case ((id, e), i) =>
      val en = math.sqrt(e.map(x => x.toDouble * x).sum)
      val r = Array.tabulate(dim)(j =>
        (((i * 31L + j) * 2654435761L) % 1000L).toDouble / 1000.0 - 0.5)
      val dot = r.zip(e).map { case (a, b) => a * b.toDouble }.sum
      val u0 = r.zipWithIndex.map { case (a, j) =>
        a - dot / (en * en) * e(j) }
      val un = math.sqrt(u0.map(x => x * x).sum)
      val sin = math.sqrt(1 - plantCos * plantCos)
      // ‖e‖·(cos·ê + sin·û): scaling preserves cosine, so
      // cos(e, e') = plantCos exactly
      val ep = Array.tabulate(dim)(j =>
        (plantCos * e(j) + sin * en * u0(j) / un).toFloat)
      (plantBase + i.toLong, ep, id)
    }
    val plantDf = planted.map(p => (p._1, p._2)).toSeq
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast(
        corpus.schema("embedding").dataType))

    val all = corpus.unionAll(plantDf)
    val pairs = operators.Ann.bandedLshNearDupPairs(all, "embedding",
        "vec_id", nTables = 8, bitsPerTable = 16, threshold = 0.4)
      .persist()
    val total = pairs.count()
    val minCos = pairs.agg(min("cos")).head().getDouble(0)
    // planted pair = (base replica-0 id, planted id); id_a < id_b
    // always orders it that way since plant ids exceed every replica
    val plantPairs = planted.map(p => (p._3, p._1)).toSet
    val found = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      .count(plantPairs.contains)
    val secs = (System.nanoTime() - t0) / 1e9
    val recall = found.toDouble / nPlant
    println(f"""{"witness":"ann_lsh_near_dup_x$factor%d","corpus_vectors":${factor.toLong * nBase + nPlant}%d,"n_tables":8,"bits_per_table":16,"threshold":0.4,"planted":$nPlant%d,"planted_cos":$plantCos%.2f,"found":$found%d,"recall":$recall%.3f,"expected_recall":0.995,"total_pairs":$total%d,"min_reported_cos":$minCos%.5f,"secs":$secs%.1f}""")
    pairs.unpersist()
    assert(recall >= 0.9,
      s"planted recall $recall below the 0.9 gate ($found/$nPlant)")
    assert(minCos >= 0.4, s"precision violation: reported cos $minCos")
    spark.stop()
  }
}
