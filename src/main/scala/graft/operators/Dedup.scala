package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale text deduplication operators, Spark-first.
  *
  * Scale design (100 TB): every pipeline is shingle-explode → map-side
  * hash → shuffle on a SMALL key (64-bit hash or band id), never on
  * document bodies. Candidate generation (LSH) reduces the quadratic
  * verify step to bucket-local pairs; exact verification joins only the
  * candidate set. Signatures are fixed-width (k longs), so memory per
  * row is bounded regardless of document size.
  */
object Dedup {

  /** distinct word n-grams per document: (id, gram). A doc with
    * size-n words yields size-n+1 grams; under n words, none.
    */
  def wordNgrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val words = split(col(textCol), "\\s+")
    val grams = when(size(words) >= n,
      transform(sequence(lit(0), size(words) - n),
        i => concat_ws(" ", slice(words, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
    docs.select(col(idCol).as("id"),
      explode(array_distinct(grams)).as("gram"))
      .filter(col("gram") =!= "")
  }

  /** (id, gh): distinct grams as 64-bit hashes — the join/shuffle
    * currency for the pair pipelines, generated in one pass by the
    * [[graft.functions.GramHashes]] expression (hash-equal to
    * xxhash64 over the gram strings). Shuffling and comparing 8-byte
    * longs instead of gram strings cuts shuffle volume ~3× on real
    * text; a cross-gram hash collision (P ≈ |grams|²/2⁶⁵) would
    * overcount one `common` by 1 — negligible against the integer
    * thresholds used here, and deterministic on fixed data.
    */
  private def gramHashes(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(graft.functions.GramHashes(col(textCol), n)).as("gh"))

  /** (id, nset): distinct-gram set sizes, map-side — the GramHashes
    * array is already distinct, so its length IS the set size; docs
    * with no grams drop exactly like a groupBy-count would drop them.
    */
  private def gramSetSizes(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      size(graft.functions.GramHashes(col(textCol), n))
        .cast("long").as("nset"))
      .filter(col("nset") > 0)

  /** Exact n-gram Jaccard similar pairs: every (a < b) with
    * |A∩B| / |A∪B| ≥ num/den, computed via a gram-join (shuffle key =
    * gram hash, never the text).
    *
    * SKEW GUARD: a gram present in K documents contributes K² rows to
    * the self-join — one boilerplate phrase shared by 10⁶ documents is
    * a job-killer at scale. `maxDocFreq > 0` drops grams with document
    * frequency above the cap BEFORE the join, and computes Jaccard
    * consistently over the filtered gram sets (sizes and intersections
    * both exclude capped grams). High-df grams carry almost no
    * similarity signal — they connect everything — so the capped
    * measure ranks near-duplicates the same way; 0 (the default) keeps
    * the exact measure for oracle comparison. The LSH path
    * ([[minhashLshPairs]]) remains the designated 100 TB route.
    */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, num: Int, den: Int, maxDocFreq: Int = 0): DataFrame = {
    val allGrams = gramHashes(docs, idCol, textCol, n)
    val grams =
      if (maxDocFreq <= 0) allGrams
      else {
        val rare = allGrams.groupBy("gh")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq)
          .select("gh")
        allGrams.join(rare, "gh")
      }
    // set sizes: map-side when grams are uncapped; the df-capped
    // variant must count the FILTERED gram set, so it keeps the agg
    val sizes =
      if (maxDocFreq <= 0) gramSetSizes(docs, idCol, textCol, n)
      else grams.groupBy("id").agg(count(lit(1)).as("nset"))
    val a = grams.as("a")
    val b = grams.as("b")
    val common = a.join(b, col("a.gh") === col("b.gh") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("id", "doc_a")
        .withColumnRenamed("nset", "na"), "doc_a")
      .join(sizes.withColumnRenamed("id", "doc_b")
        .withColumnRenamed("nset", "nb"), "doc_b")
      // integer-exact threshold: common/(na+nb-common) >= num/den
      .filter(col("common") * den >= (col("na") + col("nb") -
        col("common")) * num)
      .select("doc_a", "doc_b", "common", "na", "nb")
  }

  /** Benchmark decontamination: training documents sharing at least
    * `minShared` distinct word n-grams with ANY document of a
    * benchmark/eval corpus — the train/test-overlap sweep run before
    * training so eval scores aren't inflated by memorized test items
    * (the n-gram-collision decontamination procedure of published LM
    * data pipelines).
    *
    * Output: (doc_id, shared_grams) for flagged TRAINING docs, with
    * shared_grams = |grams(doc) ∩ grams(benchmark corpus)| — the
    * evidence count an auditor reviews before dropping the doc.
    *
    * 100 TB shape: the benchmark side is an eval suite — MBs, not TBs
    * — so its distinct gram-hash set (8 bytes per gram) is BROADCAST
    * and the training corpus never shuffles text or grams for the
    * membership test: one map-side hash-join over each doc's gram
    * array plus a two-phase count per doc (grams are distinct within
    * a doc by construction, so the count needs no distinct step).
    * Pinned by PlanCheckSpec: broadcast join, no training-side gram
    * exchange below the per-doc aggregation.
    */
  def contaminatedDocs(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int,
      minShared: Long = 1L): DataFrame = {
    val tg = gramHashes(train, idCol, textCol, n)
    val bg = gramHashes(bench, idCol, textCol, n)
      .select("gh").distinct()
    tg.join(broadcast(bg), "gh")
      .groupBy("id")
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
      .select(col("id").as("doc_id"), col("shared_grams"))
  }

  /** Boilerplate report: the corpus's most-shared word n-grams —
    * (gram hash, document frequency, one example doc) for every gram
    * in ≥ `minDf` documents, highest-df first. This is the survey a
    * pipeline runs BEFORE dedup thresholds are chosen: the top rows
    * are navigation chrome, license headers and templates, and their
    * df distribution calibrates [[exactJaccardPairs]]' `maxDocFreq`
    * cap and LSH bucket caps.
    *
    * 100 TB shape: one scan, 8-byte gram-hash shuffle, two-phase
    * (count, min) aggregation, TakeOrdered for the report cut —
    * nothing here ever carries text past the map side.
    */
  def boilerplateGrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Long, topN: Int): DataFrame =
    gramHashes(docs, idCol, textCol, n)
      .groupBy("gh")
      .agg(count(lit(1)).as("df"), min(col("id")).as("example_doc"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("gh"))
      .limit(topN)

  /** Boilerplate-fraction filter — the ACT to [[boilerplateGrams]]'
    * survey: score each document by the share of its distinct n-grams
    * that are corpus-common (df ≥ `minDf`), and flag documents at or
    * under `maxFrac` as kept. This is the RefinedWeb/CCNet-style
    * document-level boilerplate cut: a page that is mostly navigation
    * chrome, license header or template scores high and is dropped
    * before training.
    *
    * Output: (doc_id, nset, ncommon, boiler_frac, kept) for every
    * document with ≥1 gram, ordered by doc_id — the flag rather than a
    * filtered subset, so the decision boundary itself is oracle-checked
    * on both sides of the cut.
    *
    * 100 TB shape: two passes over one map-side gram extraction. Pass 1
    * aggregates df per 8-byte gram hash (two-phase, map-side partials);
    * pass 2 joins doc-grams to the common-gram set ON THE HASH — a
    * plain equi-join, NOT a forced broadcast: at trillions of grams the
    * df≥minDf survivor set can be arbitrarily large, so the join
    * shuffles 8-byte keys and AQE downgrades it to broadcast exactly
    * when the survivor set is actually small — then reduces per doc
    * (16-byte rows). No text ever leaves the map side.
    */
  def boilerplateFilter(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Long, maxFrac: Double): DataFrame = {
    val grams = gramHashes(docs, idCol, textCol, n)
    val common = grams.groupBy("gh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("gh"), lit(1L).as("hit"))
    val frac = col("ncommon").cast("double") / col("nset")
    grams.join(common, Seq("gh"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("nset"),
        sum(coalesce(col("hit"), lit(0L))).as("ncommon"))
      .select(col("id").as("doc_id"), col("nset"), col("ncommon"),
        round(frac, 4).as("boiler_frac"),
        (frac <= maxFrac).as("kept"))
      .orderBy("doc_id")
  }

  /** SKEW GUARD for bucket-local self-joins: a bucket holding K rows
    * yields K² candidate pairs, so one degenerate bucket — boilerplate
    * documents sharing every band, or malformed rows concentrating in a
    * sentinel signature — turns the candidate stage quadratic at scale.
    * `maxBucketSize > 0` drops buckets above the cap BEFORE the
    * self-join. Near-duplicate recall inside a dropped bucket is lost
    * by design: a bucket that large is either boilerplate (pairs carry
    * no signal) or an attack on the hash family; the reference measure
    * is unchanged for every surviving bucket, and 0 (the default) keeps
    * exact parity with the oracle. The count aggregation shuffles on
    * the same key as the self-join, so AQE plans both from one exchange.
    * [[minhashLshPairs]] pairs inside a grouped bucket instead of
    * self-joining, so it applies the same cap as a filter on that
    * group's row count.
    */
  private[operators] def capBuckets(rows: DataFrame,
      keyCols: Seq[String], maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) rows
    else {
      val small = rows.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") <= maxBucketSize)
        .drop("__bsz")
      rows.join(small, keyCols)
    }

  /** MinHash signatures: k columns sig_0..sig_{k-1} per id, computed
    * in ONE map-side pass by [[graft.functions.MinHashSigs]] over
    * [[graft.functions.GramHashes]] — bit-identical to the former
    * explode + groupBy(id) + k×min shape, which shuffled one row per
    * gram. No shuffle at any corpus size; gram-less docs are dropped
    * like the groupBy dropped them, by a generator over
    * `when(sigs IS NOT NULL, …)` rather than a Filter: Catalyst pushes a
    * Filter on a computed column under the projection and evaluates
    * the kernel twice.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val sigs = col("__sigs")
    docs.select(col(idCol).as("id"), graft.functions.MinHashSigs(
        graft.functions.GramHashes(col(textCol), n), k).as("__sigs"))
      .select(inline(when(sigs.isNotNull, array(struct(col("id") +:
        (0 until k).map(i => element_at(sigs, i + 1).as(s"sig_$i")): _*)))))
  }

  /** MinHash+LSH near-dup candidate pairs verified by exact Jaccard:
    * (doc_a, doc_b, common, na, nb) for every doc_a < doc_b that share
    * a band bucket and satisfy common / (na + nb − common) ≥ num/den.
    * bands × rowsPerBand is the signature length k; a pair with true
    * Jaccard s becomes a candidate with probability
    * 1-(1-s^rows)^bands. Ids are unique document keys; a NULL id never
    * pairs.
    *
    * Each branch tokenizes and hashes a document once: one (id, gh)
    * relation of [[graft.functions.GramHashes]] arrays feeds the band
    * branch ([[graft.functions.MinHashSigs]] over gh) and the verify
    * branch, and no Filter reads a kernel column (Catalyst would push it
    * under the projection and run the kernel again). Candidates are
    * paired INSIDE each (band_idx, band_key) bucket and then made
    * distinct, so the band branch runs once, where a self-join of the
    * band rows would run it per join side; `maxBucketSize > 0` first
    * drops buckets of more rows (see [[capBuckets]]). Verify takes
    * common = |gh_a ∩ gh_b| and na, nb = |gh| from the arrays (64-bit
    * gram hashes, like [[exactJaccardPairs]]).
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      num: Int = 1, den: Int = 2, maxBucketSize: Int = 0): DataFrame = {
    val k = bands * rowsPerBand
    val grams = docs.select(col(idCol).as("id"),
      graft.functions.GramHashes(col(textCol), n).as("gh"))
    // band key = hash of the band's signature slice
    val sigs = col("sigs")
    val bandRows = grams
      .select(col("id"), graft.functions.MinHashSigs(col("gh"), k).as("sigs"))
      .select(col("id"), posexplode(when(sigs.isNotNull,
        array((0 until bands).map { bnd =>
          hash((bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
            .map(i => element_at(sigs, i + 1)): _*)
        }: _*))).as(Seq("band_idx", "band_key")))
    // `rows`, not size(ids): collect_list drops NULL ids, which the cap
    // still counts
    val buckets = bandRows.groupBy("band_idx", "band_key")
      .agg(collect_list(col("id")).as("ids"), count(lit(1)).as("rows"))
    val candidates =
      (if (maxBucketSize > 0) buckets.filter(col("rows") <= maxBucketSize)
       else buckets)
        .select(explode(col("ids")).as("doc_a"), col("ids"))
        .select(col("doc_a"),
          explode(filter(col("ids"), _ > col("doc_a"))).as("doc_b"))
        .distinct()
    // shuffle joins on both sides, so the two exchanges of `grams` are
    // one plan that runs once; a broadcast of either side would stream
    // `grams` through one join and rebuild it for the other
    val a = grams.hint("merge").as("a")
    val b = grams.hint("merge").as("b")
    candidates
      .join(a, col("doc_a") === col("a.id"))
      .join(b, col("doc_b") === col("b.id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("a.gh"), col("b.gh"))).cast("long")
          .as("common"),
        size(col("a.gh")).cast("long").as("na"),
        size(col("b.gh")).cast("long").as("nb"))
      // a pair sharing no gram has no common-gram rows to count in the
      // gram-join formulation, so it is never reported
      .filter(col("common") > 0 && col("common") * den >=
        (col("na") + col("nb") - col("common")) * num)
  }

  /** Cross-source duplicate-overlap matrix: which source pairs share
    * near-duplicate documents — the report a mixture design reads
    * before setting per-source sampling rates. Parameterized on the
    * PAIR LEG: the oracle twin feeds [[exactJaccardPairs]] (exact,
    * quadratic per gram — test-SF only), production feeds
    * [[minhashLshPairs]] (banded, capped — the designated 100 TB
    * route); the join-back and rollup are identical. The pair set is
    * tiny relative to the corpus, so the two source lookups join the
    * pair ids back against the (id, source) projection.
    */
  def sourceOverlap(docs: DataFrame, idCol: String, sourceCol: String,
      pairs: DataFrame): DataFrame = {
    val d = docs.select(col(idCol), col(sourceCol))
    pairs.select("doc_a", "doc_b")
      .join(d.select(col(idCol).as("doc_a"),
        col(sourceCol).as("source_a")), "doc_a")
      .join(d.select(col(idCol).as("doc_b"),
        col(sourceCol).as("source_b")), "doc_b")
      .select(least(col("source_a"), col("source_b")).as("src_lo"),
        greatest(col("source_a"), col("source_b")).as("src_hi"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("dup_pairs"))
      .orderBy("src_lo", "src_hi")
  }

  /** Near-duplicate CANONICALIZATION — the step that actually dedups a
    * corpus once pairs are known: connected components over the
    * similar-pair graph, labelling every document with the smallest id
    * in its component (`canonical`); keeping rows where
    * `doc_id = canonical` yields the deduplicated corpus.
    *
    * Two stages. First a union-find runs inside each partition of the
    * oriented, self-loop-free edges (one `mapPartitions`, no shuffle)
    * and emits every local component as a star: one `(node, local
    * min)` edge per non-root node. A partition's union-find holds
    * O(nodes in that partition). When those star edges all lie in one
    * partition (or there are none) they already are the exact fixed
    * point, and no contraction round runs.
    *
    * Otherwise alternating large-star / small-star contraction (the
    * two-phase MapReduce connected-components algorithm of Kiveris et
    * al., SoCC 2014 — the same shape GraphFrames ships) merges the
    * stars across partitions: each round rewrites the edge set so
    * every node hooks onto the minimum of its closed neighbourhood,
    * halving star depth per round. Converges in O(log n) rounds even
    * on a pure chain — min-label propagation needed diameter rounds
    * there.
    *
    * Each stage is one Spark action: its edge set is
    * `localCheckpoint(eager)`-materialized (cutting plan lineage so
    * round N never re-derives rounds 0..N−1), and convergence — plus,
    * for the star edges, the partitions they lie in — is read from an
    * [[org.apache.spark.sql.Observation]] riding the SAME action.
    * (edge count, edge-hash sum) stable across a round means the edge
    * set reached its star-graph fixed point.
    *
    * The union-find runs over `long`, so it applies to integral id
    * types (the labels are cast back to the id type); any other id
    * type enters the contraction with its distinct oriented edges.
    *
    * `maxRounds` still fails LOUDLY as a runaway guard, but at
    * O(log n) convergence 50 rounds covers any component a physical
    * corpus can produce (2⁵⁰ nodes).
    */
  def canonicalIds(docs: DataFrame, idCol: String,
      pairs: DataFrame, maxRounds: Int = 50): DataFrame =
    canonicalIdsWithRounds(docs, idCol, pairs, maxRounds)._1

  /** [[canonicalIds]] plus the number of contraction rounds taken —
    * exposed so specs can pin the O(log n) convergence bound.
    */
  private[graft] def canonicalIdsWithRounds(docs: DataFrame,
      idCol: String, pairs: DataFrame, maxRounds: Int = 50)
      : (DataFrame, Int) = {
    import org.apache.spark.sql.{Encoders, Observation}
    import org.apache.spark.sql.types._
    val w = org.apache.spark.sql.expressions.Window
    def sigN = count(lit(1)).as("n")
    def sigH = sum(hash(col("a"), col("b")).cast("long")).as("h")
    def readSig(obs: Observation): (Long, Long) = {
      val m = obs.get
      (m("n").asInstanceOf[Long],
        Option(m("h")).fold(0L)(_.asInstanceOf[Long]))
    }
    // oriented big→small and self-loop-free (a NULL endpoint makes a
    // self-loop under greatest/least, so it never pairs)
    val oriented = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("a"),
        least(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b"))
    val idType = oriented.schema("a").dataType
    val integral = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val seed =
      if (integral) {
        val ll = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
        oriented.select(col("a").cast("long"), col("b").cast("long"))
          .as(ll).mapPartitions(localStars)(ll).toDF("a", "b")
          .select(col("a").cast(idType).as("a"),
            col("b").cast(idType).as("b"))
      } else oriented.distinct()
    val obs0 = Observation()
    var edges = seed
      .observe(obs0, sigN, sigH, min(spark_partition_id()).as("p0"),
        max(spark_partition_id()).as("p1"))
      .localCheckpoint(true)
    var prevSig: Option[(Long, Long)] = Some(readSig(obs0))
    var rounds = 0
    // stars from a single partition's union-find (or none at all) are
    // the exact fixed point: both bounds are NULL when there are none.
    // Other id types seed with their distinct edges, which are not stars.
    var converged = integral && obs0.get("p0") == obs0.get("p1")
    while (!converged) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"canonicalIds did not converge in $maxRounds rounds — " +
            "star contraction needs O(log n) rounds, so this edge set " +
            "is pathological (2^maxRounds-node component) or cyclic " +
            "re-planning is broken; raise maxRounds only after " +
            "inspecting the pair graph")
      rounds += 1
      // LARGE-STAR: for each node u, connect every strictly-larger
      // neighbour v to m = min(Γ(u) ∪ {u}). Emitted edges keep the
      // big→small orientation (m ≤ u < v).
      val nbrs = edges.select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      val large = nbrs
        .withColumn("m",
          least(min(col("v")).over(w.partitionBy("u")), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
      // SMALL-STAR: orient edges at their larger endpoint a with
      // neighbours Γ(a) all smaller; connect a and every neighbour to
      // m = min(Γ(a)). Also big→small by construction.
      val withMin = large
        .withColumn("m", min(col("b")).over(w.partitionBy("a")))
      val small = withMin.filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .unionAll(withMin.select(col("a"), col("m").as("b")))
      // Materialize + convergence metric in ONE action: the Observation
      // rides the localCheckpoint job. Fixed point ⇒ (count, hash-sum)
      // unchanged (murmur3 int summed into a long — no overflow below
      // 2³² edges, wraparound still deterministic above). The converse
      // is a heuristic: two DIFFERENT consecutive edge sets with equal
      // count could in principle collide on the 64-bit sum and stop one
      // round early (≈2⁻⁶⁴ per round, deterministic for a given input,
      // and a wrong stop surfaces as a wrong canonical mapping in the
      // oracle). Accepted: the alternative is an exact set-equality
      // join, a full extra shuffle per round for an astronomically
      // unlikely event.
      val obs = Observation()
      val next = small.distinct()
        .observe(obs, sigN, sigH)
        .localCheckpoint(true)
      val sig = readSig(obs)
      // `next` is materialized (eager checkpoint), so the superseded
      // round's blocks can be freed NOW instead of waiting for the
      // ContextCleaner's next driver-GC cycle — on a large cluster the
      // dead rounds would otherwise stack up in executor block
      // managers for the whole query (O(rounds) × edge-set bytes).
      // Trade-off: localCheckpoint is already non-fault-tolerant, and
      // eager freeing SHARPENS that — `next`'s lineage is truncated at
      // the freed predecessor, so a block of `next` lost to executor
      // death cannot be recomputed (job failure, not slow recompute).
      // Here the exposure window is one self-join round (seconds); a
      // deployment that prefers ContextCleaner-paced cleanup can drop
      // this call and accept the O(rounds) block growth.
      graft.plan.CheckpointUtil.freeCheckpoint(edges)
      edges = next
      if (prevSig.contains(sig)) converged = true
      prevSig = Some(sig)
    }
    // fixed point = union of stars: every non-root points straight at
    // its component min; roots and isolated docs label themselves
    val mapping = edges.groupBy(col("a").as("id"))
      .agg(min("b").as("lbl"))
    val out = docs.select(col(idCol).as("doc_id"))
      .join(mapping, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("canonical"))
    (out, rounds)
  }

  /** union-find over one partition's `(a, b)` edges, roots kept at the
    * component minimum: one `(node, component min)` edge per non-root
    * node, i.e. every local component as a star on its minimum.
    */
  private def localStars(edges: Iterator[(Long, Long)])
      : Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    parent.keys.toArray.iterator.map(v => (v, find(v)))
      .filter { case (v, r) => v != r }
  }

  /** SimHash fingerprint as 4 × 16-bit band columns band_0..band_3:
    * bit j of band b is the sign of Σ_tokens (±1 per bit j of the
    * token's band-b sub-hash). Keeping the fingerprint banded (instead
    * of one 64-bit word) gives the LSH join its bucket key directly and
    * avoids 1<<63 signed-overflow asymmetries between engines.
    *
    * One pass, NO shuffle: [[graft.functions.SimHashBands]] tokenizes,
    * hashes, and majority-votes inside the projection — hash-identical
    * to the former explode(split) → md5-band columns → 64-sum groupBy
    * shape (which shuffled one row per TOKEN), with token-less docs
    * dropped like the groupBy dropped them. At 100 TB fingerprinting
    * is now a map-only scan; the banded candidate join is the
    * pipeline's only shuffle.
    */
  def simhashBands(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.SimHashBands(col(textCol)).as("__bands"))
      .filter(col("__bands").isNotNull)
      .select(col("id") +: (0 until 4).map(b =>
        element_at(col("__bands"), b + 1).as(s"band_$b")): _*)

  /** combined 64-bit SimHash (band_3 .. band_0 packed high-to-low). */
  def simhash64(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    simhashBands(docs, idCol, textCol).select(col("id"),
      (0 until 4).map(b => shiftleft(col(s"band_$b"), b * 16))
        .reduceLeft(_ bitwiseOR _).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist. The
    * band-rotation trick keeps this join bucket-local at scale: 4
    * 16-bit bands; a pair within distance ≤ 3 shares at least one
    * exact band (pigeonhole). Candidates are distinct (doc_a, doc_b)
    * keys only — fingerprints are re-joined after dedup so the shuffle
    * carries 16-byte rows, not repeated fingerprints.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucketSize: Int = 0): DataFrame = {
    val fp = simhashBands(docs, idCol, textCol)
    val banded = capBuckets(fp.select(col("id"),
      posexplode(array((0 until 4).map(b => col(s"band_$b")): _*))
        .as(Seq("band_idx", "band_key"))),
      Seq("band_idx", "band_key"), maxBucketSize)
    val l = banded.as("l")
    val r = banded.as("r")
    val cand = l.join(r, col("l.band_idx") === col("r.band_idx") &&
        col("l.band_key") === col("r.band_key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
      .distinct()
    val fa = fp.select(col("id").as("doc_a") +:
      (0 until 4).map(b => col(s"band_$b").as(s"a$b")): _*)
    val fb = fp.select(col("id").as("doc_b") +:
      (0 until 4).map(b => col(s"band_$b").as(s"b$b")): _*)
    cand.join(fa, "doc_a").join(fb, "doc_b")
      .withColumn("dist", (0 until 4).map(b =>
        bit_count(col(s"a$b").bitwiseXOR(col(s"b$b"))).cast("long"))
        .reduceLeft(_ + _))
      .filter(col("dist") <= maxDist)
      .select("doc_a", "doc_b", "dist")
  }

  /** Paragraph-level exact deduplication — the sub-document pass the
    * big web corpora run (boilerplate headers, navigation blocks, and
    * license stanzas repeat across MILLIONS of pages that are not
    * themselves duplicates, so document-level dedup never sees them).
    * Splits each document's `textCol` on `sepRe`, keeps the FIRST
    * global occurrence of each distinct paragraph (first = smallest
    * (`idCol`, position) — deterministic, engine-reproducible), and
    * returns one row per occurrence:
    * (id, para_idx, para, is_kept) plus `keepCols`, so callers can
    * both rebuild deduplicated documents (filter + re-concat in
    * position order) and audit removal rates per source.
    *
    * 100 TB shape: explode is narrow; the winner decision is ONE hash
    * exchange on the paragraph text (short rows — the paragraph is the
    * key, no pair join, no quadratic term) with a per-key sort only
    * WITHIN each paragraph's occurrence group (`row_number` over a
    * partitioned window, never a global sort). Duplicate-heavy keys
    * skew no worse than the aggregation itself: a paragraph repeated
    * k times holds k rows in one task's group — at web scale the most
    * repeated boilerplate line fits an executor by orders of
    * magnitude. Attribution stays with each occurrence, so the
    * per-source report aggregates map-side after the one exchange.
    */
  def paragraphOccurrences(docs: DataFrame, idCol: String,
      textCol: String, sepRe: String = "\\n+",
      keepCols: Seq[String] = Nil): DataFrame = {
    // only keepCols can collide: idCol is renamed to "id" up front,
    // so any source name (even "para") is fine there
    val reserved = Set("id", "para", "para_idx", "is_kept")
    val clash = keepCols.filter(reserved.contains)
    require(clash.isEmpty,
      s"paragraphOccurrences output reserves ${reserved.mkString(", ")}" +
        s"; rename or drop the colliding keepCols: ${clash.mkString(", ")}")
    // keepCols join the tie-break so the winner is deterministic even
    // under duplicate (id, position) pairs from a dirty corpus (fully
    // identical rows remain symmetric: either choice yields the same
    // output multiset)
    // NULLS LAST on every tie-break leg (Spark defaults ASC = NULLS
    // FIRST, DuckDB's ORDER BY defaults NULLS LAST): a NULL doc id or
    // keep column must elect the same winner in both engines, the same
    // cross-engine contract shuffleShards pins
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("para")
      .orderBy(col("id").asc_nulls_last +:
        col("para_idx").asc_nulls_last +:
        keepCols.map(c => col(c).asc_nulls_last): _*)
    docs
      .select(col(idCol).as("id") +: keepCols.map(col) :+
        posexplode(split(col(textCol), sepRe))
          .as(Seq("para_idx", "para")): _*)
      .filter(length(col("para")) > 0)
      .withColumn("is_kept",
        row_number().over(w) === 1)
  }

  /** positional word n-grams as 64-bit hashes: (id, keep…, pos, gh).
    * UNLIKE [[gramHashes]] these keep token POSITION and MULTIPLICITY
    * — the unit of the span-level dedup signal below. Tokenization is
    * the pair pipelines' (`split` on `\s+`, no distinct), so the
    * oracle SQL reuses the exact `string_split_regex` CTE shape. One
    * map-side projection over the codegen'd one-pass
    * [[graft.functions.PosGramHashes]] walk — text never leaves the
    * map side.
    */
  private def posGramHashes(docs: DataFrame, idCol: String,
      textCol: String, n: Int, keepCols: Seq[String] = Nil): DataFrame =
    docs.select((col(idCol).as("id") +: keepCols.map(col)) :+
      posexplode(graft.functions.PosGramHashes(col(textCol), n))
        .as(Seq("pos", "gh")): _*)

  /** Substring-level dedup signal: the MAXIMAL duplicated spans of
    * each document — runs of consecutive token positions whose
    * n-gram occurs ≥ `minOcc` times in the whole corpus (across OR
    * within documents), reported as (doc_id, start_pos, n_grams,
    * span_tokens) for spans of at least `minSpanTokens` tokens. This
    * is the cut list of substring-granular deduplication (the
    * ExactSubstr procedure of published LM dedup pipelines, here
    * anchored on fixed n-gram occurrences instead of a suffix array:
    * every repeated substring of ≥ n tokens is a run of duplicated
    * n-grams, so merging adjacent duplicated positions recovers its
    * maximal span; the n-gram anchoring makes the definition
    * SQL-expressible and therefore oracle-checkable). Document-level
    * near-dup ([[exactJaccardPairs]]) drops whole documents;
    * this finds the memorization-risk REGIONS — license headers,
    * quoted passages, templated sections — inside documents that are
    * otherwise unique.
    *
    * 100 TB shape: one scan + map-side positional gram hashes; the
    * duplicated-gram set is a two-phase count on the 8-byte hash; the
    * position join is a plain equi-join on that hash (AQE broadcasts
    * when the duplicated set is small, and the build side is DISTINCT
    * hashes so a boilerplate gram with 10⁹ occurrences adds NO join
    * amplification — output stays 1:1 with positions); the
    * gaps-and-islands merge is one keyed window partitioned by doc id
    * (bounded by the largest single document, never by the corpus).
    * No text past the map side, no self-join anywhere.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minOcc: Long, minSpanTokens: Long): DataFrame = {
    val g = posGramHashes(docs, idCol, textCol, n)
    val dup = g.groupBy("gh")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOcc)
      .select("gh")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    // gaps-and-islands: consecutive duplicated positions share
    // (pos - row_number) — each island is one maximal span
    g.join(dup, "gh")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).as("p0"), count(lit(1)).as("n_grams"))
      .select(col("id").as("doc_id"),
        col("p0").cast("long").as("start_pos"),
        col("n_grams"),
        (col("n_grams") + (n - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .orderBy("doc_id", "start_pos")
  }

  /** Per-source duplicated-gram mass — the survey that sizes how much
    * of each source's token stream is globally repeated text (the
    * aggregate [[duplicatedSpans]] signal, reported per source so a
    * pipeline can rank sources by memorization risk before cutting):
    * (source, n_grams, n_dup, dup_frac) where n_dup counts gram
    * POSITIONS whose gram occurs ≥ `minOcc` times corpus-wide.
    * Positions are counted once each, so the fraction is exact — no
    * span-overlap double counting.
    *
    * 100 TB shape: same two-phase count + hash equi-join as
    * [[boilerplateFilter]] (the build side is distinct 8-byte hashes),
    * then a reduce to one row per source — the final aggregation key
    * is the source name, ~20 groups, map-side partials do the work.
    */
  def dupGramFractionBySource(docs: DataFrame, idCol: String,
      textCol: String, srcCol: String, n: Int, minOcc: Long): DataFrame = {
    val g = posGramHashes(docs, idCol, textCol, n, Seq(srcCol))
    val dup = g.groupBy("gh")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOcc)
      .select(col("gh"), lit(1L).as("hit"))
    val frac = col("n_dup").cast("double") / col("n_grams")
    g.join(dup, Seq("gh"), "left")
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_dup"))
      .select(col(srcCol).as("source"), col("n_grams"), col("n_dup"),
        round(frac, 4).as("dup_frac"))
      .orderBy("source")
  }

  /** The APPLY act of substring-level dedup: take
    * [[duplicatedSpans]]' cut list and report, per affected document,
    * how much survives — (doc_id, n_tokens, tokens_cut, clean_tokens)
    * for every document with at least one qualifying span. Token
    * positions are counted ONCE even where adjacent spans' token
    * extents overlap (two islands separated by one non-duplicated
    * gram position share up to n−2 boundary tokens), so
    * `tokens_cut` is the exact size of the union of cut regions and
    * `clean_tokens` is exactly what a span-removal rewrite of the
    * corpus would keep. Integer-exact end to end.
    *
    * 100 TB shape: identical to [[duplicatedSpans]] (map-side
    * positional gram hashes, two-phase occurrence count, distinct
    * build-side equi-join, one keyed window per doc) plus a SECOND
    * window over the qualifying spans on the SAME doc-id partitioning
    * — island token extents end strictly increasing in span order, so
    * the pairwise `lag` overlap is the whole union correction and no
    * position-level explode/distinct is ever needed. The final
    * per-doc reduce and the token-count join are both keyed by doc
    * id; text never leaves the map side.
    */
  def applySpanCuts(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minOcc: Long, minSpanTokens: Long): DataFrame = {
    val g = posGramHashes(docs, idCol, textCol, n)
    val dup = g.groupBy("gh")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOcc)
      .select("gh")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    val spans = g.join(dup, "gh")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).as("p0"), count(lit(1)).as("ng"))
      .select(col("id"), col("p0").cast("long").as("p0"),
        (col("ng") + (n - 1)).as("span_tokens"),
        (col("p0") + col("ng") + (n - 2)).as("end_pos"))
      .filter(col("span_tokens") >= minSpanTokens)
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("p0")
    val cut = spans
      .withColumn("overlap", greatest(lit(0L),
        coalesce(lag(col("end_pos"), 1).over(ws), lit(-1L)) -
          col("p0") + 1))
      .groupBy("id")
      .agg(sum(col("span_tokens") - col("overlap")).as("tokens_cut"))
    val nt = docs.select(col(idCol).as("id"),
      size(split(col(textCol), "\\s+", -1)).cast("long").as("n_tokens"))
    cut.join(nt, "id")
      .select(col("id").as("doc_id"), col("n_tokens"),
        col("tokens_cut"),
        (col("n_tokens") - col("tokens_cut")).as("clean_tokens"))
      .orderBy("doc_id")
  }
}
