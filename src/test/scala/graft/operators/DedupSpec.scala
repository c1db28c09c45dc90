package graft.operators

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.{GramHashes, MinHashSigs, ScrubFold}

class DedupSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river"),
    // near-duplicate of 1 (one word changed)
    (2L, "the quick brown fox jumps over the lazy cat near the river"),
    // exact duplicate of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river"),
    // unrelated
    (4L, "completely different content about spark catalyst planning"),
    (5L, "another unrelated document mentioning parquet shuffles only")
  ).toDF("doc_id", "text")

  test("wordNgrams counts") {
    val g = Dedup.wordNgrams(corpus, "doc_id", "text", 3)
    // doc 4: 7 words → 5 distinct trigrams
    assert(g.filter($"id" === 4).count() == 5)
  }

  test("exact jaccard finds planted near-dups only") {
    val pairs = Dedup
      .exactJaccardPairs(corpus, "doc_id", "text", 3, 1, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L))) // exact dup
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L))) // near
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH finds the same planted dups") {
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical docs distance 0, near-dups small distance") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxDist = 3)
      .select($"doc_a", $"doc_b", $"dist").as[(Long, Long, Long)]
      .collect().toMap2
    assert(pairs((1L, 3L)) == 0L)
    assert(!pairs.contains((4L, 5L)))
  }

  implicit class Tuple3Ops(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[(Long, Long), Long] =
      rows.map(r => (r._1, r._2) -> r._3).toMap
  }

  test("boilerplateFilter scores the common-gram share and flags the cut") {
    import spark.implicits._
    // "a b c" appears in docs 0-2 (df 3 ≥ 2 → common); every other
    // gram is unique; doc 3's repeated-token text collapses to ONE
    // distinct gram (GramHashes de-dups), none common
    val docs = Seq(
      (0L, "a b c d"), // grams {a b c, b c d}: 1 of 2 common
      (1L, "a b c e"),
      (2L, "a b c f"),
      (3L, "z z z z z")) // grams {z z z}: 0 of 1 common
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.boilerplateFilter(
        docs, "doc_id", "text", 3, minDf = 2L, maxFrac = 0.4)
      .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 1L, 0.5, false), // 0.5 > 0.4: dropped as boilerplate
      (1L, 2L, 1L, 0.5, false),
      (2L, 2L, 1L, 0.5, false),
      (3L, 1L, 0L, 0.0, true)), got)
    // boundary is inclusive: frac == maxFrac keeps
    val edge = graft.operators.Dedup.boilerplateFilter(
        docs, "doc_id", "text", 3, minDf = 2L, maxFrac = 0.5)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(edge.forall(_._5), edge.toSeq)
  }

  test("gram-df cap drops join-exploding grams, keeps planted dups") {
    // every doc shares one universal trigram ("shared boiler plate"),
    // which alone would connect all 2+k docs pairwise (K² join rows);
    // docs 1/2 additionally share their real content
    val skewed = (Seq(
      (1L, "shared boiler plate alpha beta gamma delta"),
      (2L, "shared boiler plate alpha beta gamma delta"),
      (3L, "shared boiler plate totally different text one"),
      (4L, "shared boiler plate other unrelated words two")) ++
      (5L to 40L).map(i =>
        (i, s"shared boiler plate unique$i filler$i content$i end$i")))
      .toDF("doc_id", "text")
    // uncapped: the universal gram inflates common counts everywhere
    val uncapped = Dedup
      .exactJaccardPairs(skewed, "doc_id", "text", 3, 1, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L)))
    // capped at df≤4: the universal trigram (df=40) is excluded from
    // the join AND the set sizes; true dups survive on their content
    val capped = Dedup
      .exactJaccardPairs(skewed, "doc_id", "text", 3, 1, 2,
        maxDocFreq = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.contains((1L, 2L)))
    assert(!capped.exists(p => p._1 >= 5L && p._2 >= 5L),
      "filler docs must not pair once the universal gram is capped")
    // default (cap off) is unchanged — the oracle-compared behavior
    val default = Dedup
      .exactJaccardPairs(skewed, "doc_id", "text", 3, 1, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(default == uncapped)
  }

  test("bucket cap drops degenerate LSH buckets, keeps disjoint dups") {
    // 60 identical boilerplate docs share EVERY band → each band bucket
    // holds all 60 and the candidate self-join is K² (the 100 TB
    // job-killer); two distinct near-dup docs live in their own buckets
    val skewed = ((1L to 60L).map(i =>
      (i, "same boilerplate text repeated in every single document")) ++
      Seq((900L, "one genuinely distinct pair of documents talking " +
          "about spark catalyst planning"),
        (901L, "one genuinely distinct pair of documents talking " +
          "about spark catalyst shuffles")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashLshPairs(skewed, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.count(p => p._1 <= 60L) == 60 * 59 / 2)
    val capped = Dedup
      .minhashLshPairs(skewed, "doc_id", "text", maxBucketSize = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!capped.exists(p => p._1 <= 60L && p._2 <= 60L),
      "over-cap boilerplate buckets must be dropped before the join")
    assert(capped.contains((900L, 901L)),
      "pairs in small buckets survive the cap")
    val cappedSim = Dedup
      .simhashPairs(skewed, "doc_id", "text", maxBucketSize = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!cappedSim.exists(p => p._1 <= 60L && p._2 <= 60L))
  }

  test("canonicalIds labels every component with its min id") {
    // components: {1,2,3} (via 1-2, 2-3 chain), {4,5}, {6} isolated
    val nodes = (1L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val canon = Dedup.canonicalIds(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(canon == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 6L))
    // a longer chain exercises multiple propagation rounds
    val chain = (1L to 10L).map(i => (i, "x")).toDF("doc_id", "text")
    val chainPairs = (1L until 10L).map(i => (i, i + 1))
      .toDF("doc_a", "doc_b")
    val canon2 = Dedup.canonicalIds(chain, "doc_id", chainPairs)
      .as[(Long, Long)].collect().toMap
    assert(canon2.values.forall(_ == 1L))
  }

  test("canonicalIds contracts a 1000-link chain in O(log n) rounds") {
    // label propagation needed diameter (=999) rounds here; the
    // large-star/small-star contraction must stay logarithmic, with
    // ONE Spark action per round (convergence is an Observation on
    // the checkpoint job, not a separate count()).
    val n = 1000L
    val chain = (1L to n).map(i => (i, "x")).toDF("doc_id", "text")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val idsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (canon, rounds) =
      Dedup.canonicalIdsWithRounds(chain, "doc_id", pairs)
    assert(rounds <= 20, s"chain of $n took $rounds rounds")
    val labels = canon.as[(Long, Long)].collect()
    assert(labels.length == n)
    assert(labels.forall(_._2 == 1L),
      "every chain node must label to the component min")
    // superseded rounds are freed EAGERLY (CheckpointUtil digs the
    // backing RDD out of the checkpoint leaf), so after `rounds`
    // localCheckpoints only the final round's edge set may still hold
    // blocks — without the eager free this is O(rounds) entries until
    // the driver's next GC cycle
    // count only RDDs persisted BY THIS TEST (set difference, not a
    // size delta — the ContextCleaner may free other suites' RDDs
    // concurrently and skew a raw count)
    val live =
      (spark.sparkContext.getPersistentRDDs.keySet -- idsBefore).size
    assert(live <= 1,
      s"$live new persisted RDDs alive after $rounds checkpointed " +
        "rounds — superseded rounds are not being freed eagerly")
  }

  /** 30 random graphs (fixed seed) with the component minimum of every
    * node from a trusted O(α) union-find: (n, edges, expected labels).
    * Shapes the chain/star specs don't cover — multi-component, cycles,
    * dense cores, self-loops, duplicate and reversed edges.
    */
  private def randomGraphs: Seq[(Int, Seq[(Long, Long)], Map[Long, Long])] = {
    val rnd = new scala.util.Random(42)
    (1 to 30).map { _ =>
      val n = 2 + rnd.nextInt(60)
      val m = rnd.nextInt(3 * n)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r))
          r = parent(r) }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      // root-min per node: path-compress fully, then min over members
      val members = (1 to n).groupBy(find)
      val expect = members.flatMap { case (_, ms) =>
        val mn = ms.min.toLong; ms.map(_.toLong -> mn) }
      (n, edges, expect)
    }
  }

  private def pairsOf(edges: Seq[(Long, Long)]): DataFrame =
    if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    else edges.toDF("doc_a", "doc_b")

  test("canonicalIds matches union-find on random graphs") {
    // star contraction vs a trusted O(α) union-find, same component
    // minimum for every node
    randomGraphs.zipWithIndex.foreach { case ((n, edges, expect), i) =>
      val docs = (1L to n.toLong).map(i => (i, "x"))
        .toDF("doc_id", "text")
      val got = Dedup.canonicalIds(docs, "doc_id", pairsOf(edges))
        .as[(Long, Long)].collect().toMap
      assert(got == expect, s"trial ${i + 1}: n=$n edges=$edges")
    }
  }

  test("canonicalIds matches union-find with pairs in one partition " +
      "and spread over eight") {
    // one partition: the per-partition union-find already labels every
    // component, so no contraction round may run; eight partitions:
    // components straddle partitions and the rounds must merge stars
    randomGraphs.zipWithIndex.foreach { case ((n, edges, expect), i) =>
      val docs = (1L to n.toLong).map(i => (i, "x"))
        .toDF("doc_id", "text")
      val (one, oneRounds) = Dedup.canonicalIdsWithRounds(docs,
        "doc_id", pairsOf(edges).coalesce(1))
      assert(one.as[(Long, Long)].collect().toMap == expect,
        s"trial ${i + 1}, one partition: n=$n edges=$edges")
      assert(oneRounds == 0,
        s"trial ${i + 1}: one-partition stars took $oneRounds rounds")
      val spread = Dedup.canonicalIds(docs, "doc_id",
        pairsOf(edges).repartition(8))
      assert(spread.as[(Long, Long)].collect().toMap == expect,
        s"trial ${i + 1}, eight partitions: n=$n edges=$edges")
    }
  }

  test("canonicalIds contracts a 1000-link chain spread over eight " +
      "partitions in O(log n) rounds") {
    // round-robin spreads neighbouring links over different partitions,
    // so the local stars are short and the rounds must merge them
    val n = 1000L
    val chain = (1L to n).map(i => (i, "x")).toDF("doc_id", "text")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .repartition(8)
    val idsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (canon, rounds) =
      Dedup.canonicalIdsWithRounds(chain, "doc_id", pairs)
    assert(rounds >= 1 && rounds <= 20,
      s"chain of $n over 8 partitions took $rounds rounds")
    val labels = canon.as[(Long, Long)].collect()
    assert(labels.length == n && labels.forall(_._2 == 1L),
      "every chain node must label to the component min")
    val live =
      (spark.sparkContext.getPersistentRDDs.keySet -- idsBefore).size
    assert(live <= 1,
      s"$live new persisted RDDs alive after $rounds checkpointed " +
        "rounds — superseded rounds are not being freed eagerly")
  }

  test("canonicalIds never pairs a NULL endpoint or a self-loop") {
    val docs = (1L to 6L).map(i => (i, "x")).toDF("doc_id", "text")
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), None), (None, Some(2L)), (None, None),
      (Some(3L), Some(3L)), (Some(5L), Some(4L)), (Some(6L), Some(6L)))
      .toDF("doc_a", "doc_b")
    Seq(pairs.coalesce(1), pairs.repartition(8)).foreach { p =>
      val got = Dedup.canonicalIds(docs, "doc_id", p)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
        5L -> 4L, 6L -> 6L))
    }
  }

  test("canonicalIds keeps INT and STRING ids: values and schema") {
    // components {3,7,12}, {9,10,100}, {1} isolated. As strings the
    // minimum is lexicographic: "100" < "9", "12" < "3".
    val ids = Seq(1, 3, 7, 9, 10, 12, 100)
    val links = Seq((7, 3), (12, 7), (9, 100), (10, 9))
    def check(docs: DataFrame, pairs: DataFrame,
        ref: DataFrame): Unit = {
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
      def fields(df: DataFrame) =
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      Seq(pairs.coalesce(1), pairs.repartition(8)).foreach { p =>
        val got = Dedup.canonicalIds(docs, "doc_id", p)
        assert(fields(got) == fields(ref))
        assert(rows(got) == rows(ref))
      }
    }
    check(ids.map(i => (i, "x")).toDF("doc_id", "text"),
      links.toDF("doc_a", "doc_b"),
      Seq(1 -> 1, 3 -> 3, 7 -> 3, 12 -> 3, 9 -> 9, 10 -> 9, 100 -> 9)
        .toDF("doc_id", "canonical"))
    check(ids.map(i => (i.toString, "x")).toDF("doc_id", "text"),
      links.map { case (a, b) => (a.toString, b.toString) }
        .toDF("doc_a", "doc_b"),
      Seq("1" -> "1", "3" -> "12", "7" -> "12", "12" -> "12",
        "9" -> "10", "10" -> "10", "100" -> "10")
        .toDF("doc_id", "canonical"))
  }

  test("contaminatedDocs counts distinct shared n-grams per train doc") {
    val train = Seq(
      (1L, "the quick brown fox jumps"),   // shares "the quick brown",
                                           // "quick brown fox" with b1
      (2L, "totally unrelated words here entirely"),
      (3L, "the quick brown fox jumps")    // same overlap as 1
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox sleeps"),
      (101L, "unseen benchmark content only")
    ).toDF("doc_id", "text")
    val out = Dedup.contaminatedDocs(train, bench, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    // "the quick brown" + "quick brown fox" = 2 shared grams
    assert(out == Map(1L -> 2L, 3L -> 2L))
    // raising the floor drops the evidence-poor docs
    val strict = Dedup.contaminatedDocs(train, bench, "doc_id", "text",
      3, minShared = 3L)
    assert(strict.count() == 0)
  }

  test("CheckpointUtil finds the RDD behind a checkpoint leaf only") {
    import graft.plan.CheckpointUtil
    val df = Seq((1L, 2L)).toDF("a", "b")
    assert(CheckpointUtil.checkpointRdd(df.filter($"a" > 0)).isEmpty,
      "non-leaf plans must be left alone")
    val ck = df.localCheckpoint(true)
    val rdd = CheckpointUtil.checkpointRdd(ck)
    assert(rdd.isDefined, "LogicalRDD reflection broke — eager " +
      "checkpoint cleanup has silently degraded to GC-paced cleanup")
    // assert on THIS rdd's id, not the global persistent-RDD count —
    // the ContextCleaner may unpersist other suites' RDDs mid-test
    val id = rdd.get.id
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "the checkpoint's backing RDD should be persisted")
    CheckpointUtil.freeCheckpoint(ck)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "freeCheckpoint should unpersist the backing RDD")
  }

  test("LSH recall matches exact jaccard on the real documents table") {
    val docs = graft.Tables(spark, sf("sf0.001"), "documents")
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 1, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // LSH output is a subset (verified exactly) with high recall
    assert(lsh.subsetOf(exact))
    assert(lsh.size >= exact.size * 8 / 10,
      s"recall too low: ${lsh.size}/${exact.size}")
  }

  test("paragraphOccurrences keeps the first global occurrence by " +
      "(id, position) and drops empty paragraphs") {
    val docs = Seq(
      (3L, "s0", "dup para\nunique one"),
      (1L, "s1", "first para\ndup para\n\ndup para"),
      (2L, "s2", "dup para")).toDF("doc_id", "source", "text")
    val out = Dedup.paragraphOccurrences(docs, "doc_id", "text",
        keepCols = Seq("source"))
      .select($"id", $"para_idx", $"para", $"is_kept")
      .as[(Long, Int, String, Boolean)].collect().toSet
    assert(out == Set(
      // doc 1: both its paragraphs win ("dup para" first occurrence is
      // (1, 1) — the empty split between \n\n never appears)
      (1L, 0, "first para", true), (1L, 1, "dup para", true),
      (1L, 2, "dup para", false),
      (2L, 0, "dup para", false),
      (3L, 0, "dup para", false), (3L, 1, "unique one", true)))
  }

  test("paragraphOccurrences rebuilds deduplicated documents in " +
      "position order") {
    val docs = Seq(
      (1L, "a\nb"), (2L, "b\nc\na")).toDF("doc_id", "text")
    val rebuilt = Dedup.paragraphOccurrences(docs, "doc_id", "text")
      .filter($"is_kept")
      .groupBy($"id")
      .agg(concat_ws("\n", sort_array(
        collect_list(struct($"para_idx", $"para"))).getField("para"))
        .as("text"))
      .as[(Long, String)].collect().toMap
    assert(rebuilt == Map(1L -> "a\nb", 2L -> "c"))
  }

  test("paragraphOccurrences matches a naive reference on 300 random " +
      "documents") {
    val rnd = new scala.util.Random(160815L)
    val paraPool = Vector("alpha beta", "gamma", "delta epsilon zeta",
      "eta", "theta iota")
    val docs = (1L to 300L).map { id =>
      val n = 1 + rnd.nextInt(4)
      (id, Seq.fill(n)(paraPool(rnd.nextInt(paraPool.size)))
        .mkString("\n"))
    }
    // naive winner rule: first (id, idx) per distinct paragraph —
    // iterating id-sorted docs in paragraph order, the first insert
    // into the map IS the minimum
    val expected = {
      val m = scala.collection.mutable.Map[String, (Long, Int)]()
      for ((id, text) <- docs.sortBy(_._1);
           (p, i) <- text.split("\n").zipWithIndex)
        if (!m.contains(p)) m(p) = (id, i)
      for ((id, text) <- docs; (p, i) <- text.split("\n").zipWithIndex)
        yield (id, i, p, m(p) == (id, i))
    }.toSet
    val got = Dedup.paragraphOccurrences(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .select($"id", $"para_idx", $"para", $"is_kept")
      .as[(Long, Int, String, Boolean)].collect().toSet
    assert(got == expected)
  }

  test("paragraphOccurrences rejects keepCols that collide with its " +
      "reserved output names") {
    val docs = Seq((1L, "a", "x")).toDF("doc_id", "text", "para")
    val e = intercept[IllegalArgumentException] {
      Dedup.paragraphOccurrences(docs, "doc_id", "text",
        keepCols = Seq("para"))
    }
    assert(e.getMessage.contains("para"))
  }

  test("paragraphOccurrences elects a non-null id as winner over a " +
      "NULL id (NULLS LAST, the DuckDB default ordering)") {
    // java boxing keeps the null id; doc 7 must win even though NULL
    // sorts FIRST under Spark's default asc
    val docs = Seq(
      (java.lang.Long.valueOf(7L), "dup para"),
      (null.asInstanceOf[java.lang.Long], "dup para"))
      .toDF("doc_id", "text")
    val kept = Dedup.paragraphOccurrences(docs, "doc_id", "text")
      .filter($"is_kept").select($"id")
      .as[Option[Long]].collect().toSeq
    assert(kept == Seq(Some(7L)))
  }

  test("paragraph winner decision is ONE hash exchange on the " +
      "paragraph, window partitioned by it (never a global sort)") {
    val docs = graft.Tables(spark, sf("sf0.001"), "documents")
    val p = Dedup.paragraphOccurrences(
        docs.withColumn("t2", concat_ws("\n", $"text", $"text")),
        "doc_id", "t2", keepCols = Seq("source"))
      .queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(para"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  // ---- substring-level dedup: maximal duplicated spans ----

  private val sharedPhrase =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa" // 10 tok
  private val spanCorpus = Seq(
    (10L, "srcA", s"u1 u2 $sharedPhrase u3"), // phrase at tokens 2..11
    (11L, "srcA", s"v1 $sharedPhrase v2 v3"), // phrase at tokens 1..10
    // 6-token phrase repeated WITHIN one doc (occurrences in the same
    // document count toward minOcc, like a suffix array would)
    (12L, "srcB", "p q r s t u w1 p q r s t u"),
    (13L, "srcB", "unique only words here now")
  ).toDF("doc_id", "source", "text")

  test("duplicatedSpans recovers the planted cross-document span " +
      "with exact token boundaries") {
    val spans = Dedup
      .duplicatedSpans(spanCorpus, "doc_id", "text", 3, 2L, 10L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // only grams fully inside the shared 10-token phrase are
    // duplicated: doc 10 positions 2..9 (8 grams), doc 11 positions
    // 1..8 — each one island of span_tokens = 8 + 3 - 1 = 10
    assert(spans == Seq((10L, 2L, 8L, 10L), (11L, 1L, 8L, 10L)), spans)
  }

  test("duplicatedSpans counts same-document repetitions and splits " +
      "non-adjacent islands") {
    val spans = Dedup
      .duplicatedSpans(spanCorpus, "doc_id", "text", 3, 2L, 6L)
      .filter($"doc_id" === 12L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // "p q r s t u" twice in doc 12: grams 0..3 and 7..10, separated
    // by the unique w1-straddling grams — two maximal 6-token spans
    assert(spans == Seq((12L, 0L, 4L, 6L), (12L, 7L, 4L, 6L)), spans)
  }

  test("dupGramFractionBySource counts gram positions once each") {
    val rows = Dedup
      .dupGramFractionBySource(spanCorpus, "doc_id", "text", "source",
        3, 2L)
      .as[(String, Long, Long, Double)].collect().toSeq
    // srcA: docs 10/11 have 11 grams each, 8 duplicated each;
    // srcB: doc 12 has 11 grams, 8 duplicated (4 per copy), doc 13
    // has 3 unique grams
    assert(rows == Seq(
      ("srcA", 22L, 16L, math.rint(16.0 / 22 * 1e4) / 1e4),
      ("srcB", 14L, 8L, math.rint(8.0 / 14 * 1e4) / 1e4)), rows)
  }

  test("applySpanCuts reports the surviving token budget per " +
      "affected doc and drops unaffected docs") {
    val cuts = Dedup
      .applySpanCuts(spanCorpus, "doc_id", "text", 3, 2L, 10L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // docs 10/11: 13 tokens each, one 10-token span → 3 survive;
    // docs 12/13 have no qualifying span (6 < 10) and are absent
    assert(cuts == Seq((10L, 13L, 10L, 3L), (11L, 13L, 10L, 3L)), cuts)
  }

  test("applySpanCuts counts overlapping adjacent span extents " +
      "once (union-exact)") {
    // doc 20: grams 0..3 duplicated (island tokens 0..5), gram 4
    // ("e f G") unique, grams 5..9 duplicated (island tokens 5..11) —
    // the two extents share token 5, so the union is ALL 12 tokens,
    // not 6 + 7 = 13
    val docs = Seq(
      (20L, "a b c d e f G h i j k l"),
      (21L, "a b c d e f"),
      (22L, "f G h i j k l")
    ).toDF("doc_id", "text")
    val cuts = Dedup.applySpanCuts(docs, "doc_id", "text", 3, 2L, 6L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(cuts == Seq((20L, 12L, 12L, 0L), (21L, 6L, 6L, 0L),
      (22L, 7L, 7L, 0L)), cuts)
  }

  test("applySpanCuts is keyed by doc id end to end: no " +
      "single-partition window, no self-join, no position explode") {
    val docs = graft.Tables(spark, sf("sf0.001"), "documents")
    val p = Dedup.applySpanCuts(docs, "doc_id", "text", 3, 2L, 10L)
      .queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(id"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("hashpartitioning(gh"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the union correction is the lag window, not an explode+distinct
    assert(!p.contains("Generate explode(sequence"), p)
  }

  test("duplicatedSpans island merge is window-partitioned by doc " +
      "id, never a global sort; no self-join anywhere") {
    val docs = graft.Tables(spark, sf("sf0.001"), "documents")
    val p = Dedup.duplicatedSpans(docs, "doc_id", "text", 3, 2L, 10L)
      .queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(id"), p)
    assert(!p.contains("SinglePartition"), p)
    // the duplicated-gram set and the position join share the 8-byte
    // gram-hash shuffle key; no pairwise join anywhere
    assert(p.contains("hashpartitioning(gh"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  /** [[Dedup.minhashLshPairs]] as it was built before it shared one
    * gram-hash array per document: signatures behind a Filter, the
    * count-then-join bucket cap, a band self-join, and an exact verify
    * by gram explode, two joins, a groupBy and two set-size joins.
    */
  private def refLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, num: Int, den: Int,
      maxBucketSize: Int): DataFrame = {
    val k = bands * rowsPerBand
    val gh = GramHashes(col(textCol), n)
    val sigs = docs.select(col(idCol).as("id"),
        MinHashSigs(gh, k).as("__sigs"))
      .filter(col("__sigs").isNotNull)
      .select(col("id") +: (0 until k).map(i =>
        element_at(col("__sigs"), i + 1).as(s"sig_$i")): _*)
    val bandRows = Dedup.capBuckets(sigs.select(col("id"),
      posexplode(array((0 until bands).map { bnd =>
        hash((bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
          .map(i => col(s"sig_$i")): _*)
      }: _*)).as(Seq("band_idx", "band_key"))),
      Seq("band_idx", "band_key"), maxBucketSize)
    val l = bandRows.as("l")
    val r = bandRows.as("r")
    val candidates = l.join(r,
        col("l.band_idx") === col("r.band_idx") &&
        col("l.band_key") === col("r.band_key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
      .distinct()
    val grams = docs.select(col(idCol).as("id"), explode(gh).as("gh"))
    val sizes = docs.select(col(idCol).as("id"),
        size(gh).cast("long").as("nset"))
      .filter(col("nset") > 0)
    val ga = grams.toDF("doc_a", "gram_a")
    val gb = grams.toDF("doc_b2", "gram_b")
    candidates
      .join(ga, Seq("doc_a"))
      .join(gb, col("doc_b") === col("doc_b2") &&
        col("gram_a") === col("gram_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("id", "doc_a")
        .withColumnRenamed("nset", "na"), "doc_a")
      .join(sizes.withColumnRenamed("id", "doc_b")
        .withColumnRenamed("nset", "nb"), "doc_b")
      .filter(col("common") * den >= (col("na") + col("nb") -
        col("common")) * num)
      .select("doc_a", "doc_b", "common", "na", "nb")
  }

  /** seeded corpus with planted near-duplicate clusters and PII, plus
    * the edge texts: NULL, empty, under-n, `$` and `\`, a chained
    * email, and a five-copy cluster that a bucket cap of 3 drops
    */
  private def lshCorpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.fill(40)(rnd.alphanumeric.filter(_.isLower)
      .take(3 + rnd.nextInt(4)).mkString)
    val plants = Seq("u1@example.com", "10.1.2.3",
      "0123456789abcdef0123456789abcdef", "a@b.cc1@x.yy", "$1", "\\")
    val bases = (0 until 60).flatMap { _ =>
      val words = Array.fill(8 + rnd.nextInt(18))(vocab(rnd.nextInt(40)))
      if (rnd.nextInt(3) == 0)
        words(rnd.nextInt(words.length)) = plants(rnd.nextInt(plants.length))
      val copies = if (rnd.nextInt(4) == 0) 1 + rnd.nextInt(3) else 0
      words.mkString(" ") +: (0 until copies).map { _ =>
        val c = words.clone()
        if (rnd.nextBoolean()) c(rnd.nextInt(c.length)) = vocab(rnd.nextInt(40))
        c.mkString(" ")
      }
    }
    val edges = Seq(null, "", "a b", "$ \\ $1 \\\\ x y z w",
      "a@b.cc1@x.yy and then some more words here") ++
      Seq.fill(5)("the same five copies of one short document")
    rnd.shuffle(bases ++ edges).zipWithIndex.map { case (t, i) =>
      (i.toLong * 7 + 3, t) }
  }

  private def jsonDocs(rows: Seq[(Long, String)]): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("lsh").toString
    rows.toDF("id", "text").coalesce(1).write.mode("overwrite").json(dir)
    spark.read.schema("id long, text string").json(dir)
  }

  test("minhashLshPairs equals the band self-join + gram-join " +
      "formulation, default and small parameters") {
    Seq(7, 11).foreach { seed =>
      val docs = Scrub.scrub(jsonDocs(lshCorpus(seed)), "text")
      val results = Seq((3, 16, 4, 1, 2, 0), (2, 8, 2, 1, 3, 0),
          (2, 8, 2, 1, 3, 3)).map { case ps @ (n, bands, rows, num, den, cap) =>
        val got = Dedup.minhashLshPairs(docs, "id", "scrubbed", n,
          bands, rows, num, den, cap)
        val want = refLshPairs(docs, "id", "scrubbed", n, bands, rows,
          num, den, cap)
        assert(got.schema.map(f => (f.name, f.dataType)) ==
          want.schema.map(f => (f.name, f.dataType)))
        val g = got.orderBy("doc_a", "doc_b").collect().toSeq
        assert(g == want.orderBy("doc_a", "doc_b").collect().toSeq,
          s"seed $seed $ps")
        assert(g.nonEmpty, s"seed $seed $ps")
        g
      }
      assert(results(2).length < results(1).length,
        s"seed $seed: the bucket cap dropped nothing")
    }
  }

  test("minhashLshPairs runs each text kernel once per branch and " +
      "filters on no kernel column") {
    // file-backed: an in-memory input folds into a LocalRelation and
    // hides the kernels from the executed plan
    val docs = jsonDocs(lshCorpus(7))
    val pairs = Dedup.minhashLshPairs(Scrub.scrub(docs, "text"), "id",
      "scrubbed")
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan
    def nodesWith[T: ClassTag]: Int = collect(plan) {
      case p if p.expressions.exists(
        _.find(classTag[T].runtimeClass.isInstance).isDefined) => p
    }.length
    // band branch + verify branch; the verify's two joins share one
    // exchange
    assert(nodesWith[ScrubFold] == 2, plan)
    assert(nodesWith[GramHashes] == 2, plan)
    assert(nodesWith[MinHashSigs] == 1, plan)
    val kernelFilters = collect(plan) { case f: FilterExec => f.condition }
      .filter(_.find(_.getClass.getPackageName == "graft.functions")
        .isDefined)
    assert(kernelFilters.isEmpty, plan)
  }
}
