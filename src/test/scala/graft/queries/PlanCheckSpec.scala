package graft.queries

import graft.SparkSpec

/** Physical-plan assertions: the properties that matter at 100 TB.
  * Filters reach the parquet scan, scans prune to referenced columns,
  * small dimensions broadcast, hot paths stay in whole-stage codegen.
  */
class PlanCheckSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf("sf0.001"))
    df.queryExecution.executedPlan.toString
  }

  test("filter queries push predicates into the parquet scan") {
    val p = planOf("mt_stop_semantics")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(event_type)") ||
      p.contains("Not(EqualTo(event_type,error))"), p)
  }

  test("aggregation scans prune to referenced columns") {
    val p = planOf("mt_counter_by_labels")
    // only event_type should be read, not props/value/ts
    assert(p.contains("ReadSchema: struct<event_type:string>"), p)
  }

  test("pricing summary reads only the 6 referenced lineitem columns") {
    val p = planOf("agg_pricing_summary")
    assert(!p.contains("l_shipdate"), p)
    assert(!p.contains("l_partkey"), p)
  }

  test("dimension joins broadcast the small side") {
    val p = planOf("join_revenue_by_region")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("supplier rollup broadcasts both dims; the fact side never " +
      "shuffles before the aggregation") {
    val p = planOf("join_supplier_accts_by_region")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("part rollup prunes to the four referenced columns") {
    val p = planOf("agg_part_brand_pricing")
    assert(!p.contains("p_name"), p)
    assert(!p.contains("p_partkey"), p)
    assert(p.contains("partial_count") || p.contains("partial_avg"), p)
  }

  test("partial aggregation happens map-side (two-phase hash agg)") {
    val p = planOf("mt_counter_add_expr")
    assert(p.contains("HashAggregate"), p)
    // partial_sum before the exchange, final after
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("regex extraction query stays in whole-stage codegen") {
    val df = graft.SparkEntry.queries("mt_regex_extract_typed")(
      spark, sf("sf0.001"))
    df.collect() // finalize the AQE plan so codegen markers appear
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p) // WholeStageCodegen marker
  }

  test("banded source-overlap has no gram self-join: pairs come from " +
      "the band-bucket join, grams only verify candidates") {
    val p = planOf("dedup_source_overlap_banded")
    // the exact twin self-joins the full gram relation keyed on its
    // bare hash (`Join [gh#..], [gh#..]` — K² rows per gram); the
    // banded form's gram joins must be candidate-bounded, i.e. carry
    // the doc id in the join key
    assert(!p.linesIterator.exists(l =>
      l.contains("Join") && l.contains("[gh#")), p)
    assert(p.contains("band_key"), p)
  }

  test("LSH near-dup join is an equi-join on the signature (no NL join)") {
    val df = graft.operators.Ann.lshNearDupPairs(
      graft.Tables(spark, sf("sf0.001"), "embeddings"),
      "embedding", "vec_id", 8, 0.9)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") ||
      p.contains("HashJoin"), p)
  }

  test("IVF assignment is one shuffle-free codegen'd projection") {
    val e = graft.Tables(spark, sf("sf0.001"), "embeddings")
    val df = graft.operators.Ann.ivfAssign(e, "embedding", "vec_id", 8)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // map-side only: assignment must never shuffle, at any corpus size
    assert(!p.contains("Exchange"), p)
    assert(p.contains("*("), p) // WholeStageCodegen
    // the codebook rides as one compact node, not an unrolled tree
    assert(p.contains("sqdists") || p.contains("SqDists"), p)
  }

  test("tfidf prunes the documents scan, partial-aggs tf, and " +
      "broadcasts the corpus-size scalar") {
    val df = graft.SparkEntry.queries("text_tfidf_top_terms")(
      spark, sf("sf0.001"))
    df.collect() // finalize AQE so join strategies are decided
    val p = df.queryExecution.executedPlan.toString
    // the token scan reads only the two referenced columns
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    // tf/df are two-phase hash aggs (map-side partials — tokens never
    // cross the wire un-aggregated)
    assert(p.contains("partial_count"), p)
    // the corpus-size scalar joins in as a broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("IVF top-k prunes cells before the cosine work") {
    val e = graft.Tables(spark, sf("sf0.001"), "embeddings")
    val q = (0 until 64).map(_.toDouble)
    val df = graft.operators.Ann.ivfTopK(e, "embedding", "vec_id", q,
      k = 8, nProbe = 3, topK = 5)
    val p = df.queryExecution.executedPlan.toString
    // the cell filter sits below the top-k, and the global sort is a
    // TakeOrdered, never a full Sort+Limit
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Filter") && p.contains("cell"), p)
  }

  test("PQ encode is a shuffle-free codegen'd projection; top-k is " +
      "TakeOrdered over the codes") {
    val e = graft.Tables(spark, sf("sf0.001"), "embeddings")
    val enc = graft.operators.Ann.pqEncode(e, "embedding", "vec_id",
      8, 16)
    enc.collect()
    val pe = enc.queryExecution.executedPlan.toString
    // encoding must never shuffle at any corpus size — it's the
    // write-once compression pass
    assert(!pe.contains("Exchange"), pe)
    assert(pe.contains("*("), pe) // whole-stage codegen
    val df = graft.operators.Ann.pqTopK(e, "embedding", "vec_id",
      (0 until 64).map(_.toDouble), 8, 16, 10)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange") || p.contains("TakeOrdered"), p)
  }

  test("IVF+PQ filters cells below the TakeOrdered, map-side only") {
    val e = graft.Tables(spark, sf("sf0.001"), "embeddings")
    val df = graft.operators.Ann.ivfPqTopK(e, "embedding", "vec_id",
      (0 until 64).map(_.toDouble), kCoarse = 8, nProbe = 3,
      m = 8, k = 16, topK = 10)
    val p = df.queryExecution.executedPlan.toString
    // cell pruning happens in the scan stage, before any ranking work,
    // and the only "shuffle" is the TakeOrdered singleton collect
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Filter") && p.contains("cell"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("decontamination broadcasts the benchmark gram set; training " +
      "grams never sort-merge") {
    val df = graft.SparkEntry.queries("pipeline_decontaminate")(
      spark, sf("sf0.001"))
    df.collect() // finalize AQE so join strategies are decided
    val p = df.queryExecution.executedPlan.toString
    // the eval-suite gram set rides to every task; the (huge) training
    // side is probe-only — no shuffle of its grams for the join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the per-doc evidence count partial-aggregates map-side
    assert(p.contains("partial_count"), p)
  }

  test("as-of reads explode legs from ONE pass over the base, not " +
      "one scan per write site") {
    // a transformed-key read forces the as-of relation (m[$x] written,
    // m[$x/2] read). Pre-round-13 the as-of unioned one SELECT of the
    // base per write leg plus one for probes — at cluster scale that
    // multiplies the scan+regex cost by the site count. The explode
    // form keeps exactly one occurrence of the base per as-of.
    import org.apache.spark.sql.functions.col
    import graft.mtail.{Frontend, LogLines}
    import graft.plan.PlanBuilder
    import spark.implicits._
    val prog = Frontend.parse(
      """hidden counter m by k
        |gauge out by k
        |/^(?P<x>\d+)$/ {
        |  m[$x]++
        |  m[$x + 1]++
        |  out[$x] = m[$x / 2]
        |}
        |""".stripMargin, "asofplan")
    val df = LogLines.fromLines(
      Seq("1", "2", "4").toDF("line"), "line")
    val pb = new PlanBuilder(prog, df, 0)
    val plan = pb.snapshot().queryExecution.optimizedPlan.toString
    assert(plan.contains("Generate explode"),
      "as-of legs must be built by explode, not unionAll-of-selects")
    // the probe+write union materializes each leg as an array element
    // of one projection: LocalRelation (the test's line source) must
    // not be duplicated per leg. Branches of snapshot() legitimately
    // re-reference it (one per metric aggregation + the as-of), so
    // bound the count by the metric count, far below the per-leg blowup
    val occurrences = "LocalRelation".r.findAllIn(plan).length
    assert(occurrences <= 6,
      s"line source appears $occurrences times — as-of legs are " +
        "scanning per-site again")
    // the running sum through the transformed read key equals the
    // sequential VM: line "4" reads m[2], incremented by "1" and "2"
    import graft.mtail.{MiniVm, Snapshot}
    val lines = Seq("1", "2", "4")
    val eng = Snapshot.collect(pb.snapshot())
      .map(c => (c.name, c.labels) -> c.value).toMap
    val vm = MiniVm.run(prog, lines)
      .map(c => (c.name, c.labels) -> c.value).toMap
    assert(eng == vm, s"engine $eng vs vm $vm")
    assert(eng(("out", Map("k" -> "4"))) == Snapshot.VInt(2))
  }

  test("limit-N eviction compiles to a parallel TakeOrderedAndProject, " +
      "not a single-partition window sort") {
    // `limit N` keeps the N newest cells; the pre-eviction cell set is
    // precisely high-cardinality when a user declares it, so a global
    // row_number() window (one task holds every cell) would sit on the
    // hot path. orderBy(ts.desc).limit(N) → partial per-partition
    // top-N merged driver-side.
    import graft.mtail.{Frontend, LogLines}
    import graft.plan.PlanBuilder
    import spark.implicits._
    val prog = Frontend.parse(
      """counter hits by ip limit 3
        |/^(?P<ip>\S+)$/ { hits[$ip]++ }
        |""".stripMargin, "limitplan")
    val df = LogLines.fromLines(
      Seq("a", "b", "c", "d", "e").toDF("line"), "line")
    val pb = new PlanBuilder(prog, df, 0)
    val plan = pb.snapshot().queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("RunningWindowFunction") &&
      !plan.contains("row_number"), plan)
  }

  test("WordStats queries scan once, prune columns, and partial-agg " +
      "map-side") {
    val p = planOf("text_repetition_stats")
    // only the two referenced columns reach the scan
    assert(p.contains("ReadSchema: struct<text:string,source:string>")
      || p.contains("ReadSchema: struct<source:string,text:string>"), p)
    // token statistics aggregate map-side; only (source, partials)
    // cross the wire — never per-token rows. Two exchanges total: the
    // agg hash partition plus the few-row output sort; a token-explode
    // regression would add a third.
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert("Exchange".r.findAllIn(p).length <= 2, p)
    val g = planOf("pipeline_gopher_rules")
    assert(g.contains("partial_sum") || g.contains("partial_count"), g)
    assert("Exchange".r.findAllIn(g).length <= 2, g)
  }

  test("semantic dedup pairs via a hash equi-join on the cluster key, " +
      "never a nested-loop pair scan") {
    val df = graft.SparkEntry.queries("dedup_semantic")(
      spark, sf("sf0.001"))
    df.collect() // finalize AQE so join strategies are decided
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("every query runs with codegen fallback disabled " +
      "(no silent interpreted execution)") {
    // Regression net for the class of bug where generated code fails
    // to COMPILE (e.g. a >64 KB method from an unrolled expression
    // tree) and Spark silently executes the stage interpreted — the
    // query stays correct but runs ~10x slower (ann_near_dup was 31 s
    // instead of 3 s at sf0.1 before CosineSim). Compile success is
    // data-independent, so sf0.001 exercises the same generated code
    // the 100 TB plan would run.
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach {
        case (name, fn) =>
          withClue(s"query $name: ") {
            fn(spark, sf("sf0.001")).count()
          }
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }
}
