package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Deduplication operators for training-data pipelines, each designed
  * shuffle-first (no cross joins on the scale path):
  *
  *  - [[exact]]: hash-groupBy exact dedup.
  *  - [[jaccardPairs]]: exact n-gram-shingle Jaccard similarity join —
  *    PPJoin-style prefix-filtered candidates on sparse corpora, all-pairs
  *    block scoring on dense ones, both verified by a codegen'd
  *    sorted-array merge kernel — cost ∝ surviving pairs, never
  *    materializes the n² matrix on the sparse path.
  *  - [[minhashLshPairs]]: MinHash signatures + banded LSH bucketing →
  *    candidate pairs → exact-Jaccard verification. The classic
  *    shingle→minhash→band→bucket-join pipeline; at 100 TB the bucket join
  *    replaces the quadratic candidate space with hash-partitioned buckets.
  *  - [[simhashPairs]]: 64-bit SimHash + pigeonhole banding on k-bit chunks
  *    (pairs within Hamming distance d share at least one of d+1 chunks).
  */
object Dedup {

  /** Execution-path override for [[jaccardPairsBy]]: `Auto` gates on
    * measured corpus statistics; the forced values exist for testing and
    * for operators who know their corpus shape. All strategies produce
    * identical results (spec-checked) — they differ only in cost. */
  sealed trait JaccardStrategy
  object JaccardStrategy {
    case object Auto extends JaccardStrategy
    /** PPJoin prefix-filter candidates + merge verify. */
    case object Sparse extends JaccardStrategy
    /** All-pairs sorted-hash merge prefilter + exact verify. */
    case object DenseMerge extends JaccardStrategy
    /** All-pairs dense-bitset popcount. */
    case object DenseBitset extends JaccardStrategy
  }

  /** Exact dedup: one surviving row id per identical key, plus the
    * duplicate count. */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("dup_count"))

  /** Per-document distinct shingle sets (word n-grams), built by the
    * compiled single-pass [[graft.functions.TextKernel.wordShingles]]
    * kernel (the HOF composition it replaced evaluated one interpreted
    * lambda per token — 6.7 s for 5 000 docs vs ~0.3 s compiled).
    *
    * The repartition spreads docs across all cores regardless of input
    * file count and materializes the arrays once at the exchange, so
    * downstream self-join branches reuse them (ReuseExchange). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // spread the RAW text, shingle after the exchange: computing the
    // shingle arrays below the repartition runs the whole kernel as one
    // task on a one-file corpus AND shuffles the (larger) arrays
    // instead of the text
    df.select(col(idCol).as("doc"), col(textCol).as("__text"))
      .transform(Par.spread(_, col("doc")))
      .select(col("doc"),
        graft.functions.word_shingles(col("__text"), n).as("sh"))

  /** inter/(|A|+|B|−inter) over binary-SORTED distinct string arrays in
    * ONE codegen'd merge pass ([[graft.functions.SortedStringJaccard]]) —
    * exact, no per-pair hash-set build (`array_intersect`), and no dense
    * bitset detour (which needed a global vocabulary id assignment: a
    * single-partition window plus a broadcast join and a groupBy, several
    * whole stages of plumbing before the first pair is scored). */
  private def sortedJaccardCol(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.SortedStringJaccard(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** Exact set-intersection verification of candidate pairs: joins the
    * (sorted) shingle sets back and merge-counts the intersection. AQE
    * turns the set-side joins into broadcasts when they fit. */
  private def verifyJaccard(cands: DataFrame, sets: DataFrame,
      theta: Double): DataFrame = {
    val sorted = sets.select(col("doc"), sort_array(col("sh")).as("sh"))
    val sa = sorted.select(col("doc").as("doc_a"), col("sh").as("sha"))
    val sb = sorted.select(col("doc").as("doc_b"), col("sh").as("shb"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard", sortedJaccardCol(col("sha"), col("shb")))
      .where(col("jaccard") >= theta)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** All-pairs scoring for DENSE corpora — when the shingle vocabulary is
    * so small relative to the corpus that nearly every pair shares a
    * shingle, candidate generation keeps ~all pairs and its explode-join
    * + pair-distinct shuffle costs more than just scoring every pair
    * (measured at sf0.1: 5.49M of 12.5M possible pairs survived prefix
    * blocking; 27 s via the candidate join vs ~2 s all-pairs).
    *
    * The n² hot loop runs on sorted xxhash64 arrays — a primitive-long
    * merge ([[graft.functions.SortedLongJaccard]]) that upper-bounds the
    * true Jaccard (collisions only ever inflate it), so `≥ θ` keeps a
    * lossless candidate superset; the handful of survivors get the exact
    * string-merge verification. The length-ratio conjunct (minsz
    * precomputed per ROW — in the join condition it would be two double
    * ceils per PAIR) prunes before the merge. Beyond broadcast size, a
    * partitioned cartesian still beats candidate generation in this
    * regime: each task scores one (partA, partB) block in codegen.
    *
    * `hs` is the per-doc ascending hash array (the stored arrays as-is
    * for [[jaccardPairsFromStored]]); returns the prefiltered
    * (doc_a, doc_b, hsa, hsb) pairs for the caller to verify. */
  private def hashAllPairs(sets: DataFrame, hs: Column, theta: Double,
      useBroadcast: Boolean): DataFrame = {
    // both branches read this frame; the exchange makes them share one
    // computed copy (ReuseExchange) instead of re-hashing twice
    val hashed = sets.select(col("doc"), col("sz"),
        ceil(lit(theta) * col("sz")).cast("int").as("minsz"), hs.as("hs"))
      .transform(Par.spread(_, col("doc")))
    val ba = hashed.select(col("doc").as("doc_a"), col("sz").as("sza"),
      col("minsz").as("minsza"), col("hs").as("hsa"))
    val bb = hashed.select(col("doc").as("doc_b"), col("sz").as("szb"),
      col("minsz").as("minszb"), col("hs").as("hsb"))
    ba.crossJoin(if (useBroadcast) broadcast(bb) else bb)
      .where(col("doc_a") < col("doc_b") &&
        col("sza") >= col("minszb") && col("szb") >= col("minsza") &&
        sortedLongJaccardGECol(col("hsa"), col("hsb"), theta))
  }

  /** Early-exit `hash-jaccard ≥ θ` — identical decisions to filtering on
    * the full merge, but most pairs bail partway. */
  private def sortedLongJaccardGECol(a: Column, b: Column,
      theta: Double): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.SortedLongJaccardGE(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b), theta))

  /** Exact hash-Jaccard VALUE over sorted long arrays — one codegen
    * merge pass ([[graft.functions.SortedLongJaccard]]), the verify
    * kernel of the stored-hash serve ([[jaccardPairsFromStored]]). */
  private def sortedLongJaccardCol(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.SortedLongJaccard(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** Vocab ceiling for the bitset dense path (bitset bytes per doc =
    * vocab/8; 256k bits = 32 KB). */
  val BitsetVocabMax = 262144

  /** All-pairs scoring via dense BITSETS — for the heavy-dense regime
    * (large sets over a tiny vocabulary, e.g. char-grams on a small
    * alphabet) where the per-pair AND-popcount over vocab/64 words is
    * several times cheaper than merging ~2·|set| sorted hashes (measured
    * at 100k docs / 300-gram sets / 3k vocab: merge 393 s vs bitsets
    * ~90 s). Costs a global vocabulary id assignment (single-partition
    * window over ≤[[BitsetVocabMax]] vocab entries — bounded) plus a
    * broadcast join and a groupBy, which only amortizes when
    * allPairs·avgSz is large — the [[jaccardPairsBy]] gate decides. */
  private def bitsetAllPairs(ex: DataFrame, freq: DataFrame, nWords: Int,
      theta: Double, useBroadcast: Boolean): DataFrame = {
    val vocab = freq.select(col("g"))
      .withColumn("wid", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("g"))) - 1)
        .cast("int"))
    val bitsets = ex.join(broadcast(vocab), "g")
      .groupBy("doc", "sz").agg(collect_list(col("wid")).as("wids"))
      .select(col("doc"), col("sz"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.BitsetFromIds(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("wids")),
            nWords)).as("bs"))
      // both pair-join branches share this exchange (ReuseExchange)
      .transform(Par.spread(_, col("doc")))
    val ba = bitsets.select(col("doc").as("doc_a"), col("sz").as("sza"),
      ceil(lit(theta) * col("sz")).cast("int").as("minsza"), col("bs").as("bsa"))
    val bb = bitsets.select(col("doc").as("doc_b"), col("sz").as("szb"),
      ceil(lit(theta) * col("sz")).cast("int").as("minszb"), col("bs").as("bsb"))
    ba.crossJoin(if (useBroadcast) broadcast(bb) else bb)
      .where(col("doc_a") < col("doc_b") &&
        col("sza") >= col("minszb") && col("szb") >= col("minsza"))
      .withColumn("jaccard", org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.BitsetJaccard(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("bsa")),
          org.apache.spark.sql.graft.ColumnBridge.expression(col("bsb")),
          org.apache.spark.sql.graft.ColumnBridge.expression(col("sza")),
          org.apache.spark.sql.graft.ColumnBridge.expression(col("szb")))))
      .where(col("jaccard") >= theta)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Exact Jaccard ≥ θ pairs via PPJoin-style prefix filtering: only the
    * (1−θ)·|A|+1 globally-rarest shingles of each doc generate candidates
    * (lossless for J ≥ θ under a shared total order), with a length-ratio
    * conjunct — avoids the Σf² quadratic blow-up on frequent shingles that
    * a plain shingle join suffers on skewed corpora. Verification is the
    * sorted-array merge kernel ([[graft.functions.SortedStringJaccard]]).
    * Output: doc_a < doc_b, jaccard (double, int-ratio exact).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, theta: Double, reuseSets: Boolean = false): DataFrame =
    jaccardPairsBy(df, idCol,
      graft.functions.word_shingles(col(textCol), n), theta,
      reuseSets = reuseSets)

  /** Char-q-gram variant: catches character-level edits (typos, OCR noise)
    * that word shingles miss. Same density-adaptive machinery. */
  def charJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      q: Int, theta: Double, reuseSets: Boolean = false): DataFrame =
    jaccardPairsBy(df, idCol,
      graft.functions.char_ngrams(col(textCol), q), theta,
      reuseSets = reuseSets)

  /** Exact Jaccard ≥ θ pairs over an arbitrary shingle-array column.
    *
    * EAGER: the dense-vs-sparse gate needs corpus statistics (vocabulary
    * size, Σf²), so construction runs one stats job plus a metadata count
    * — `explain` on the result (or PlanAudit) therefore triggers cluster
    * jobs. With `cacheSets` (default) the parsed shingle sets are
    * persisted MEMORY_AND_DISK so the expensive shingle lineage computes
    * once, not once for stats and again at execution. The cache lives in
    * a [[graft.ManagedCache]] slot: re-entering this operator releases
    * the previous call's cached sets, so repeated invocation in a
    * long-lived session holds one cached frame, not an accumulating
    * pile — callers embedding this in a larger cached pipeline can pass
    * `cacheSets = false`. With `reuseSets` an identical-plan re-entry
    * additionally RETURNS the already-materialized set frame instead of
    * dropping and rebuilding it ([[graft.ManagedCache.reuse]]) — opt-in
    * for callers whose input lineage is immutable within the JVM (the
    * lake-corpus query layer, where d2/d8/d13/c24/k6 all shingle the
    * same corpus; r19 optimization round); callers over refreshable or
    * rewritten inputs must keep the default swap semantics. */
  def jaccardPairsBy(df: DataFrame, idCol: String, shingles: Column,
      theta: Double, cacheSets: Boolean = true,
      strategy: JaccardStrategy = JaccardStrategy.Auto,
      reuseSets: Boolean = false): DataFrame = {
    // spread the input rows first so the shingle expression runs
    // post-exchange across cores (shingleSets discipline)
    val setsPlan = Par.spread(df, col(idCol))
      .select(col(idCol).as("doc"), shingles.as("sh"))
      .withColumn("sz", size(col("sh")))
      .where(col("sz") > 0)
    val sets =
      if (cacheSets && reuseSets)
        graft.ManagedCache.reuse("Dedup.jaccardPairsBy", setsPlan)
      else if (cacheSets)
        graft.ManagedCache.swap("Dedup.jaccardPairsBy", setsPlan)
      else setsPlan
    val ex = sets.select(col("doc"), col("sz"), explode(col("sh")).as("g"))
    // Candidate generation runs on 8-byte shingle HASHES: frequency order
    // and blocking only need a consistent global key, and verification is
    // exact over the true shingle sets — a 64-bit collision costs at most
    // a few extra candidates, never a wrong pair. Shuffling longs instead
    // of shingle strings roughly halves the exchange volume at scale.
    val exh = ex.select(col("doc"), col("sz"), xxhash64(col("g")).as("gh"),
      octet_length(col("g")).as("glen"))
    val freqH = exh.groupBy("gh")
      .agg(count(lit(1)).as("gdf"), min(col("glen")).as("glen"))
    // doc count for the gate heuristics: with cacheSets the stats job
    // has just materialized the sets cache, so counting the CACHED
    // frame is a cache-scan, while df.count() re-runs the caller's whole
    // input lineage (in c1/c11 that is the gate + surprisal + exact-dedup
    // semi-join chain — measured ~0.5 s per call, r19 optimization
    // round). sets counts only docs with ≥1 shingle — zero-shingle docs
    // participate in no pair, so this is the more faithful allPairs
    // population; any gate flip it causes picks between strategies whose
    // outputs are identical (DedupSpec pins strategy independence
    // against brute force for all three strategies). Without cacheSets
    // the raw input's (metadata-cheap) count is used — counting docs
    // with zero shingles only overestimates allPairs, which biases the
    // gate toward the conservative sparse path.
    densityGate(sets, freqH, Some(col("glen")),
        if (cacheSets) sets.count() else df.count(), strategy)(
      (nWords, bc) => bitsetAllPairs(ex,
        ex.groupBy("g").agg(count(lit(1)).as("gdf")), nWords, theta, bc),
      bc => verifyJaccard(hashAllPairs(sets,
        sort_array(transform(col("sh"), g => xxhash64(g))), theta, bc)
        .select(col("doc_a"), col("doc_b")), sets, theta),
      verifyJaccard(
        jaccardCandidates(exh.select(col("doc"), col("sz"), col("gh")),
          freqH.select(col("gh"), col("gdf")), theta, newIds = None),
        sets, theta))
  }

  /** The density gate of the Jaccard serves ([[jaccardPairsBy]],
    * [[jaccardPairsFromStored]]): ONE eager stats job over the (gh, gdf)
    * frequency table, the doc count `nDocs` (skipped when no doc has a
    * gram; `sets` only shapes that empty result), then the dispatch.
    * A dense corpus (most pairs share a gram) keeps ~all pairs through
    * prefix blocking, so all-pairs scoring beats candidate generation
    * while the working set fits in 4 GB — the 16 B/element + 48 B/row
    * hash table, plus `gramBytes`' string bytes for a scratch set table
    * (the stored serve never loads strings). The all-pairs side
    * broadcasts up to 256 MB of hash table and is a partitioned
    * cartesian beyond. Of the two dense representations, the
    * sorted-hash `merge` costs ~2·avgSz steps/pair with zero setup and
    * `bitset` (given the word count) vocab/64 words/pair plus a
    * vocabulary id pipeline; bitsets win once allPairs·avgSz ≈ 1e10
    * amortizes that (char-grams at 100k docs: 393 s merged vs ~90 s
    * bitset; word-shingles at 5k docs the reverse). Output is
    * strategy-independent (verification is exact); DedupSpec and the
    * d24 spec pin forced-sparse ≡ forced-dense ≡ scratch. */
  private def densityGate(sets: DataFrame, freq: DataFrame,
      gramBytes: Option[Column], nDocs: => Long, strategy: JaccardStrategy)(
      bitset: (Int, Boolean) => DataFrame, merge: Boolean => DataFrame,
      sparse: => DataFrame): DataFrame = {
    val stats = freq.agg(count(lit(1)).as("vocab"),
      Seq(coalesce(sum(col("gdf") * col("gdf")), lit(0L)).as("sumf2"),
        coalesce(sum(col("gdf")), lit(0L)).as("totinst")) ++
        gramBytes.map(b =>
          coalesce(sum(col("gdf") * b), lit(0L)).as("instbytes")): _*)
      .head()
    val vocabSize = stats.getLong(0)
    val sumF2 = stats.getLong(1)
    val totInstances = stats.getLong(2)
    val stringBytes = if (gramBytes.isDefined) stats.getLong(3).toDouble else 0.0
    if (vocabSize == 0) { // no doc produced any gram — empty result
      return sets.select(col("doc").as("doc_a"), col("doc").as("doc_b"),
        lit(0.0).as("jaccard")).where(lit(false))
    }
    val n = nDocs
    val allPairs = n * math.max(n - 1, 0) / 2
    // estimated in-memory bytes: 16 B/element array overhead + 48 B/row
    val hashBytes = 16.0 * totInstances + 48.0 * n
    val dense = stringBytes + 16.0 * totInstances + 48.0 * n <= 4e9 &&
      sumF2 / 2 >= allPairs / 4
    val avgSz = totInstances.toDouble / math.max(n, 1L)
    val nWords = ((vocabSize + 64 + 63) / 64).toInt
    val bitsetBytes = n.toDouble * nWords * 8
    val bitsetWins = vocabSize <= BitsetVocabMax && bitsetBytes <= 4e9 &&
      nWords * 2 < avgSz && allPairs.toDouble * avgSz >= 1e10
    def runBitset() = bitset(nWords, bitsetBytes <= 256e6)
    def runMerge() = merge(hashBytes <= 256e6)
    strategy match {
      case JaccardStrategy.DenseBitset =>
        require(vocabSize <= BitsetVocabMax,
          s"DenseBitset needs vocab <= $BitsetVocabMax, measured $vocabSize")
        runBitset()
      case JaccardStrategy.DenseMerge => runMerge()
      case JaccardStrategy.Auto if dense =>
        if (bitsetWins) runBitset() else runMerge()
      case _ => sparse // Sparse forced, or Auto on a sparse corpus
    }
  }

  /** The symmetric PPJoin prefix candidate stage of [[jaccardPairsBy]]'s
    * sparse path, over an exploded (doc, sz, gh) posting frame plus its
    * (gh, gdf) frequency table — factored so the scratch operator and
    * the persisted-index serve ([[jaccardPairsFromStored]], d22) run ONE
    * candidate plan (the [[containmentCandidates]] discipline). `freq`
    * is a parameter, not recomputed here, because the scratch path has
    * already aggregated it for the dense-gate stats job — passing it in
    * keeps that plan shuffle-for-shuffle unchanged.
    *
    * Losslessness (Chaudhuri/Bayardo prefix filtering): rank every gram
    * under the SHARED total order (gdf asc, gh asc); if J(A,B) ≥ θ then
    * |A∩B| ≥ ⌈θ·|A∪B|⌉ ≥ ⌈θ·max(|A|,|B|)⌉, so A misses at most
    * |A| − ⌈θ·|A|⌉ elements of the intersection — its first
    * |A| − ⌈θ·|A|⌉ + 1 grams under the order must contain an
    * intersection element, and symmetrically for B; the SMALLEST
    * intersection element under the order therefore sits inside BOTH
    * prefixes, so the prefix-prefix equi-join keeps every true pair.
    * The order itself is a selectivity heuristic (rarity first); the
    * verified output is order-independent because verification is
    * exact. The length-ratio conjunct (J ≥ θ ⇒ |A| ≥ θ·|B| and
    * symmetrically) prunes before the pair materializes.
    *
    * `newIds` (the delta face, d22's streaming batches): candidates
    * touching a listed doc, by [[bucketPairs]]' delta rule. The prefix
    * rank computes over the full posting frame AS OF THE BATCH — a
    * shared total order at that instant, so the prefix filter is
    * lossless for every pair that exists at batch time (both rows
    * present, both prefixes ranked under the same order); false
    * candidates never verify, so the union of deltas equals the full
    * serve exactly — no valve caveat, nothing dropped. */
  private def jaccardCandidates(ex: DataFrame, freq: DataFrame,
      theta: Double, newIds: Option[DataFrame]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("gdf").asc, col("gh").asc)
    val prefix = ex.join(freq, "gh")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <=
        (col("sz") - ceil(lit(theta) * col("sz")) + 1).cast("int"))
      .select(col("doc"), col("sz"), col("gh"))
    bucketPairs(prefix, "doc", Seq("gh"), newIds)(
        col("a.sz") >= ceil(lit(theta) * col("b.sz")),
        col("b.sz") >= ceil(lit(theta) * col("a.sz")))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
  }

  /** The one pair-join rule of the bucketed pair families (minhash
    * bands, Hamming chunks, edit variant keys, Jaccard prefixes): `keyed`
    * equi-joined with itself on `on`, the sides aliased `a` and `b`.
    * `None` self-joins under `a.id < b.id`. `Some(ids)` (the id column
    * is the frame's first) joins the full table against its
    * ids-restricted slice under `a.id ≠ b.id` and re-orients each match
    * so `a` holds the smaller id: a pair of two listed ids matches
    * twice, identically, and the caller's pair dedup collapses it.
    * Driven with a batch's genuinely-new ids over the post-append table,
    * every pair is emitted exactly once across a feed, in the batch
    * where its later member arrives, and the union over batches equals
    * the `None` output over the final table (R17PropertySpec checks
    * every family). `filter` stays INSIDE the join condition (the
    * [[hammingPairs]] measurement) and must be symmetric in `a`/`b`. */
  private def bucketPairs(keyed: DataFrame, id: String, on: Seq[String],
      newIds: Option[DataFrame])(filter: Column*): DataFrame = {
    def cond(idRule: Column) =
      (on.map(k => col(s"a.$k") === col(s"b.$k")) ++ (idRule +: filter))
        .reduce(_ && _)
    newIds match {
      case None =>
        keyed.alias("a").join(keyed.alias("b"),
          cond(col(s"a.$id") < col(s"b.$id")))
      case Some(nw) =>
        val fresh = keyed.join(nw.select(col(nw.columns.head).as(id)),
          Seq(id), "left_semi")
        val aLow = col(s"a.$id") < col(s"b.$id")
        def side(x: String) =
          struct(keyed.columns.toSeq.map(c => col(s"$x.$c").as(c)): _*)
        keyed.alias("a").join(fresh.alias("b"),
            cond(col(s"a.$id") =!= col(s"b.$id")))
          .select(when(aLow, side("a")).otherwise(side("b")).as("a"),
            when(aLow, side("b")).otherwise(side("a")).as("b"))
    }
  }

  /** Near-dup SURVIVORS — the keep-one-per-cluster discipline layered on
    * any pair generator: a row survives iff it is the doc_a-side
    * minimum of every pair it appears in, i.e. NO pair names it as
    * doc_b. (One-shot rule, not connected components and not iterative
    * greedy: in a chain a–b–c with pairs (a,b) and (b,c), both b and c
    * are dropped — c's partner b is gone, but c was still named as a
    * doc_b. Deterministic, and one anti-join instead of an iterative
    * components computation at scale.)
    *
    * @param pairs output of [[jaccardPairs]]/[[minhashLshPairs]]/
    *              [[simhashPairs]]-shaped operators: doc_a < doc_b
    */
  def dropNearDups(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("doc_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Cross-corpus near-dup pairs — DECONTAMINATION: find corpus docs
    * whose shingle sets overlap a (small) reference set, e.g. training
    * documents that leak evaluation benchmarks. The reference side
    * broadcasts (benchmarks are tiny next to a training corpus), so the
    * corpus never shuffles ON A JOIN KEY — no hash co-location is needed
    * for a broadcast join. (The one corpus movement is Par.spread's
    * repartition, there to spread single-file test scans across local
    * cores; on a cluster whose scan is already as wide as the executor
    * count it buys nothing and can be dropped.) The scoring itself is
    * one broadcast nested-loop with the same
    * early-exit sorted-hash prefilter + exact sorted-string verify as
    * [[jaccardPairsBy]], cost |corpus|·|ref| prefilter probes with most
    * pairs bailing in a few comparisons. For a reference set too big to
    * broadcast, block with [[minhashLshPairs]]-style banding instead.
    * Output: corpus_id, ref_id, jaccard (exact). */
  def crossJaccardPairs(corpus: DataFrame, corpusId: String,
      ref: DataFrame, refId: String, shingles: Column,
      theta: Double): DataFrame = {
    def prep(df: DataFrame, id: String, side: String): DataFrame =
      df.select(col(id).as(s"${side}_id"), shingles.as("sh"))
        .where(size(col("sh")) > 0)
        .select(col(s"${side}_id"),
          sort_array(col("sh")).as(s"${side}_sh"),
          sort_array(transform(col("sh"), g => xxhash64(g)))
            .as(s"${side}_hs"),
          size(col("sh")).as(s"${side}_sz"))
    // spread the raw corpus BEFORE prep so the shingle/sort kernels run
    // post-exchange across cores (shingleSets discipline) — and
    // MATERIALIZE the prepped corpus: a stream-side projection adjacent
    // to a nested-loop join defers to the per-build-row loop (the
    // pqTopK/knnpq_fold_r8.txt hazard), re-running shingle+sort+hash
    // once per (corpus × ref) PAIR instead of once per corpus row. The
    // broadcast materializes the ref side the same way.
    val c = graft.ManagedCache.swap("Dedup.crossJaccardPairs.corpus",
      prep(Par.spread(corpus, col(corpusId)), corpusId, "corpus"))
    val r = prep(ref, refId, "ref")
    c.crossJoin(broadcast(r))
      .where(col("corpus_sz") >= ceil(lit(theta) * col("ref_sz")) &&
        col("ref_sz") >= ceil(lit(theta) * col("corpus_sz")) &&
        sortedLongJaccardGECol(col("corpus_hs"), col("ref_hs"), theta))
      .withColumn("jaccard",
        sortedJaccardCol(col("corpus_sh"), col("ref_sh")))
      .where(col("jaccard") >= theta)
      .select(col("corpus_id"), col("ref_id"), col("jaccard"))
  }

  /** Exact anti-join via BLOOM SEMI-JOIN REDUCTION — dedup/decontaminate
    * a corpus against a reference KEY SET in the regime between
    * "broadcast the exact set" (up to ~10⁷ keys) and "full shuffle join"
    * (the fallback beyond ~10⁹): the reference keys aggregate
    * distributively into one Bloom filter (`fpp` at `expectedItems` —
    * ~1.2 GB bits at 10⁹ keys / 1% fpp, still plan-shippable where the
    * exact set long since isn't), every corpus row probes the bits as a
    * codegen predicate (Spark's own `BloomFilterMightContain`, the
    * runtime-filter machinery's expression), and ONLY the might-contain
    * rows — true hits + ~fpp of the rest — reach the verifying anti-join.
    * No false negatives by Bloom's contract, and the verify join removes
    * the false positives, so the output is EXACTLY the plain anti-join
    * (the `c9` oracle asserts that): the Bloom changes cost, never
    * semantics. At 100 TB the corpus-side shuffle shrinks from |corpus|
    * rows to |hits| + fpp·|corpus| — the dominant cost of re-crawl
    * dedup, where hit rates are a few percent.
    *
    * Keys probe as `xxhash64(key)` longs on both sides (the filter's
    * domain); the verify join compares the KEY ITSELF, so an xxhash64
    * collision can cost a verification probe, never a wrong drop.
    * Returns corpus rows whose `key` appears in no ref row. */
  def bloomAntiJoin(corpus: DataFrame, ref: DataFrame, key: Column,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val mightContain = bloomMightContain(ref, key, expectedItems, fpp)
    // definitely-clean rows never see a join; suspects verify on the key
    val clean = corpus.where(!mightContain)
    val verified = corpus.where(mightContain)
      .join(ref.select(key.as("__refk")).distinct(),
        key === col("__refk"), "left_anti")
    clean.unionAll(verified)
  }

  /** Benchmark decontamination by exact word-n-gram overlap — the
    * published "13-gram rule" (GPT-3 appx. C, Brown et al. 2020;
    * PaLM/Llama train-set hygiene use the same shape): flag every
    * training document that shares at least one word n-gram with the
    * evaluation set, reporting how many DISTINCT n-grams it shares.
    * [[crossJaccardPairs]] asks "how similar"; this asks the stricter
    * release question "does any eval span appear verbatim" — a single
    * memorized 13-gram contaminates even at negligible Jaccard.
    *
    * Scale shape: the EVAL side is benchmark-sized (thousands of rows)
    * while the train side is the 100 TB corpus — so the eval side's
    * distinct grams broadcast, and the corpus pays ONE narrow
    * explode + broadcast semi-join, with the only shuffle the per-doc
    * count (output-proportional: contaminated (doc, gram) pairs). The
    * corpus never shuffles its text. Gram sets come from
    * [[graft.functions.word_shingles]] (trim, `\s+` split, distinct),
    * so the overlap count is exact and integer → full DuckDB oracle.
    * Output: doc_id, n_shared_grams (train docs with ≥ 1 shared gram).
    *
    * `gram` selects the denominator: [[GramMode.Words]] slides over
    * whitespace words; [[GramMode.Bpe]] slides over the BPE TOKEN
    * sequence ([[graft.functions.bpe_shingles]], windows crossing word
    * boundaries) — the unit the published rule actually counts (GPT-3
    * counted tokenizer grams). The distinction is not cosmetic: an
    * eval span of fewer than n WORDS has zero word n-grams and sails
    * through Words mode, but its ≥ n BPE tokens still produce interior
    * token grams that Bpe mode catches (DedupSpec pins the shape). */
  def ngramOverlap(train: DataFrame, trainId: String, trainText: String,
      eval: DataFrame, evalText: String, n: Int,
      gram: GramMode = GramMode.Words): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    def grams(text: Column): Column = gram match {
      case GramMode.Words => graft.functions.word_shingles(text, n)
      case GramMode.Bpe => graft.functions.bpe_shingles(text, n)
    }
    val evalGrams = eval
      .select(explode(grams(col(evalText))).as("gram"))
      .distinct()
    train
      .select(col(trainId).as("doc_id"),
        explode(grams(col(trainText))).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Gram denominator for [[ngramOverlap]]: whitespace words, or BPE
    * tokens under the fixed [[graft.functions.BpeKernel]] merge
    * table. */
  sealed trait GramMode
  object GramMode {
    case object Words extends GramMode
    case object Bpe extends GramMode
  }

  /** CROSS-corpus containment decontamination — the asymmetric release
    * question between [[ngramOverlap]] ("shares ANY eval gram") and
    * [[crossJaccardPairs]] ("similar to an eval doc"): flag train docs
    * that contain MOST of an eval document, C(e, t) = |grams(e) ∩
    * grams(t)| / |grams(e)| ≥ θ — a benchmark question quoted whole
    * inside a long crawled page has C ≈ 1 while its Jaccard vs the page
    * is negligible and a one-gram overlap threshold drowns in noise.
    * [[containmentPairs]] is the within-corpus sibling; here the small
    * side is ALWAYS the eval doc, so no prefix filter is needed — the
    * eval side is benchmark-sized and BROADCASTS whole.
    *
    * Scale shape: the corpus pays one narrow gram explode + broadcast
    * join (never shuffles its text); the count aggregation is
    * output-proportional (shared (train, eval, gram) triples). Distinct
    * gram sets on both sides make n_shared exact → full DuckDB oracle.
    * Output: (train_doc, eval_doc, n_shared, containment). */
  def crossContainment(train: DataFrame, trainId: String,
      trainText: String, eval: DataFrame, evalId: String,
      evalText: String, n: Int, theta: Double): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    require(theta > 0.0 && theta <= 1.0,
      s"theta must be in (0, 1]: $theta")
    val eg = eval
      .select(col(evalId).as("eval_doc"),
        graft.functions.word_shingles(col(evalText), n).as("sh"))
      .withColumn("sz", size(col("sh")))
      .where(col("sz") > 0)
      .select(col("eval_doc"), col("sz"), explode(col("sh")).as("gram"))
    val tg = train
      .select(col(trainId).as("train_doc"),
        explode(graft.functions.word_shingles(col(trainText), n))
          .as("gram"))
    tg.join(broadcast(eg), "gram")
      .groupBy("train_doc", "eval_doc", "sz")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("containment",
        col("n_shared").cast("double") / col("sz"))
      .where(col("containment") >= theta)
      .select(col("train_doc"), col("eval_doc"), col("n_shared"),
        col("containment"))
  }

  /** CROSS-corpus SEMANTIC (paraphrase-level) decontamination — the
    * case every token-overlap decontam operator provably misses: a
    * REWORDED benchmark item shares no 13-gram with its source
    * ([[ngramOverlap]] sees nothing), contains none of it
    * ([[crossContainment]] sees nothing), and its shingle Jaccard is
    * noise ([[crossJaccardPairs]]) — yet its term BAG barely moves, so
    * its TF-IDF vector stays (near-)identical. Flags train docs whose
    * exact cosine against ANY eval item reaches θ. This is the
    * "semantic decontamination" section of every modern data card
    * (reference intent: the audit-completeness framing of
    * `/root/reference/project_report.md` §conclusions).
    *
    * Inputs are SPARSE unit vectors in the [[graft.operators
    * .TextSearch.hashingTfIdf]] triple shape (doc, bucket, weight),
    * both corpora embedded under ONE shared fit (IDF must weigh both
    * sides identically or cosines are not comparable — the caller
    * unions the corpora before vectorizing, c28's composition). The
    * unit-norm contract makes the bucket-join dot product the cosine;
    * round-6 BEFORE thresholding so the θ decision replays across
    * engines (the h1/h2 discipline — reduction-order ulps cannot flip
    * a flag).
    *
    * Scale shape: the eval side is benchmark-sized by contract and
    * BROADCASTS whole (the [[crossContainment]] stance); the corpus
    * pays one bucket-keyed map-side join + a (train, eval) partial
    * aggregation — it never shuffles. At gate dim (64) the triples are
    * dense-equivalent; a 100 TB deployment raises dim to 2^18+ where
    * hashed TF-IDF triples are genuinely sparse and the bucket join
    * prunes to truly-shared terms. When the eval side outgrows a
    * broadcast, the SAME vectors feed [[crossCosinePairsLsh]] (banded
    * candidates, exact verify) with this exact join as the oracle-able
    * baseline.
    *
    * `maxBucketOcc` is the hot-bucket valve (the [[sharedSpans]]
    * `maxGramOcc` discipline, VERDICT r16 task 1a) — the bucket join's
    * output is Σ_buckets |train∩b|·|eval∩b|, which degenerates toward
    * |train|·|eval| whenever one bucket is corpus-hot (the stopword
    * bucket every document posts into). Buckets whose TRAIN-side
    * occupancy exceeds the ceiling are dropped from the join (tiny hot
    * set by construction → broadcast anti-join). RECALL CONTRACT,
    * monotone: the valved dot product sums a SUBSET of each pair's
    * shared-bucket terms and both vectors stay unit-normalized over ALL
    * buckets, so valved cosine ≤ exact cosine — the valve can only
    * LOSE flags past θ, never invent one; output equals the exact
    * operator run over the postings with hot buckets deleted
    * (spec-pinned, DedupSpec). What is lost is exactly the pairs whose
    * θ-mass rides corpus-hot coordinates — and corpus-wide stopword
    * mass is not a paraphrase signal (TF-IDF already drives those
    * weights toward the floor; a pair ALL of whose shared buckets are
    * hot is invisible). Default ON at 2^16: at production scale only
    * stopword-grade buckets (shared by > 65k train docs) hit the
    * ceiling, while every gate corpus sits far below it, so the gate
    * oracle is the UNVALVED exact semantics verbatim. Output:
    * (train_doc, eval_doc, cosine ≥ θ). */
  def crossCosinePairs(train: DataFrame, eval: DataFrame,
      theta: Double,
      maxBucketOcc: Long = CrossCosineMaxBucketOcc): DataFrame = {
    require(theta > 0.0 && theta <= 1.0,
      s"theta must be in (0, 1]: $theta")
    require(maxBucketOcc >= 1, s"maxBucketOcc must be >= 1: $maxBucketOcc")
    val tr = train.select(col("doc").as("train_doc"), col("bucket"),
      col("weight").as("__wt"))
    val ev = eval.select(col("doc").as("eval_doc"), col("bucket"),
      col("weight").as("__we"))
    val trKept =
      if (maxBucketOcc == Long.MaxValue) tr
      else {
        // (doc, bucket) is unique in the TF-IDF triple shape, so the
        // plain count IS the per-bucket train occupancy
        val hot = tr.groupBy("bucket")
          .agg(count(lit(1)).as("__occ"))
          .where(col("__occ") > maxBucketOcc)
          .select(col("bucket"))
        hotAntiJoin(tr, hot, Seq("bucket"), "crossCosinePairs")
      }
    trKept.join(broadcast(ev), "bucket")
      .groupBy("train_doc", "eval_doc")
      .agg(round(sum(col("__wt") * col("__we")), 6).as("cosine"))
      .where(col("cosine") >= theta)
  }

  /** Default train-side bucket-occupancy ceiling for
    * [[crossCosinePairs]]: 65,536 documents. A term bucket this hot is
    * stopword-grade boilerplate at any production corpus size (its
    * +1-smoothed IDF weight is near the floor), while the gate corpora
    * (≤ 5k docs) never reach it — the valve is live at scale and
    * provably inert on the oracle. */
  val CrossCosineMaxBucketOcc: Long = 1L << 16

  /** APPROXIMATE cross-corpus semantic decontamination — the declared
    * beyond-broadcast path for [[crossCosinePairs]] (VERDICT r16 task
    * 1b), now gated with its recall contract (`c30`): when the exact
    * bucket join's Σ|train∩b|·|eval∩b| pair mass is the wall, band the
    * SAME TF-IDF vectors with `tables` independent `bits`-bit
    * random-hyperplane signatures ([[AnnSearch.lshNearDupPairs]]'s
    * machinery over [[graft.functions.VectorFunctions
    * .hyperplaneSignatureRange]]'s shared deterministic family) and
    * verify every banded candidate with the EXACT round-6 cosine.
    *
    * PRECISION is exact by construction (verification recomputes the
    * full-vector dot product and applies the same round-6 θ decision),
    * so output ⊆ the exact operator's pairs; RECALL is the banding
    * miss rate — two vectors at cosine c collide in one table with
    * probability (1 − acos(c)/π)^bits, across any of `tables`. At the
    * c28 parameterization the gate holds recall ≥ 0.7 against the
    * exact flags IN-PLAN (the a5/a11 discipline), and a paraphrase
    * pair at cosine ≈ 1 is caught almost surely (identical vectors
    * share every signature).
    *
    * Scale shape: candidates are (tbl, sig)-bucket collisions — never
    * all pairs; the eval side (sigs + sparse vector) broadcasts; the
    * train corpus pays one doc-keyed sparse aggregation + `tables`
    * signature evaluations, no corpus self-shuffle. Everything stays
    * SPARSE end-to-end (ADVICE r17): each doc travels as its sorted
    * (buckets, weights) arrays — O(nnz) per row — never a dim-length
    * densified vector, so the operator's beyond-broadcast regime
    * (production dim 2^18+, docs ~100-sparse) ships ~1.6 KB/doc
    * through the signature join instead of ~2 MB. Signatures and the
    * verify dot are bit-identical to the dense formulation they
    * replaced ([[graft.functions.SparseVecKernel]]'s parity contract,
    * SparseVecSpec), so the banding decisions — and c30's pinned
    * recall row — are unchanged. Verification cost is collision-count
    * × one codegen'd [[graft.functions.SparseDot]] merge.
    * Inputs are the [[graft.operators.TextSearch.hashingTfIdf]] triple
    * shape under ONE shared fit (the [[crossCosinePairs]] contract);
    * `dim` must be the fit's dim (asserted per bucket — a mismatched
    * fit must raise, not band wrong vectors). Output: (train_doc,
    * eval_doc, cosine ≥ θ) — [[crossCosinePairs]]'s shape. */
  def crossCosinePairsLsh(train: DataFrame, eval: DataFrame,
      theta: Double, dim: Int, bits: Int = 10,
      tables: Int = 12): DataFrame = {
    require(theta > 0.0 && theta <= 1.0,
      s"theta must be in (0, 1]: $theta")
    require(bits >= 1 && bits <= 20 && tables >= 1,
      s"need 1 <= bits <= 20, tables >= 1: bits=$bits tables=$tables")
    val trd = sparseDocVectors(train, dim, "crossCosinePairsLsh")
      .toDF("train_doc", "__tb", "__tw")
      .withColumn("__bk", explode(
        AnnSearch.sparseTableSigs(col("__tb"), col("__tw"), bits, tables)))
      .select(col("train_doc"), col("__tb"), col("__tw"),
        col("__bk.tbl").as("__tbl"), col("__bk.sig").as("__sig"))
    val evd = sparseDocVectors(eval, dim, "crossCosinePairsLsh")
      .toDF("eval_doc", "__eb", "__ew")
      .withColumn("__bk", explode(
        AnnSearch.sparseTableSigs(col("__eb"), col("__ew"), bits, tables)))
      .select(col("eval_doc"), col("__eb"), col("__ew"),
        col("__bk.tbl").as("__tbl"), col("__bk.sig").as("__sig"))
    // exact verify INSIDE the collision output, before the pair-dedup
    // shuffle (the lshNearDupPairs shape); unit-norm inputs make the
    // dot product the cosine, round-6 BEFORE θ — the same decision the
    // exact operator replays. The signature join is UNHINTED (the d16
    // lesson): this path exists precisely for the regime where the
    // eval side outgrows a broadcast, so AQE broadcasts a small eval
    // frame at runtime and falls back to a (tbl, sig)-keyed shuffle
    // join when it is not — the exact operator keeps the broadcast
    // stance because its contract pins the eval side benchmark-sized.
    trd.join(evd, Seq("__tbl", "__sig"))
      .select(col("train_doc"), col("eval_doc"),
        round(graft.functions.VectorFunctions.sparseDot(
          col("__tb"), col("__tw"), col("__eb"), col("__ew")),
          6).as("cosine"))
      .where(col("cosine") >= theta)
      .dropDuplicates("train_doc", "eval_doc")
  }

  /** One row per doc of a TF-IDF triple frame, as the sorted sparse
    * parallel-array shape the sparse kernels consume: (doc, buckets
    * array<long> ascending, weights array<double> aligned). The `dim`
    * guard is the FIT contract: a bucket outside [0, dim) means the
    * caller mixed vectorizer fits, which must raise, never band or
    * verify wrong cosines. The bucket-uniqueness guard is the same
    * raise-don't-compute stance (ADVICE r18): the replaced dense path's
    * `map_from_entries` RAISED on duplicate map keys, so a caller
    * violating the one-row-per-(doc, bucket) TF-IDF contract must keep
    * raising here — a duplicate bucket would silently skew every
    * signature and dot computed from the arrays. One size compare per
    * doc over an nnz-length array, riding the aggregate output. */
  private[graft] def sparseDocVectors(triples: DataFrame, dim: Int,
      ctx: String): DataFrame =
    triples.select(col("doc"),
        when(col("bucket") < 0 || col("bucket") >= dim,
          raise_error(concat(lit(s"$ctx: bucket "),
            col("bucket").cast("string"),
            lit(s" outside [0, $dim) — dim must match the "),
            lit("hashingTfIdf fit")))).otherwise(col("bucket"))
          .cast("long").as("bucket"),
        col("weight").cast("double").as("weight"))
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("weight"))))
        .as("__e"))
      .select(col("doc"),
        when(size(array_distinct(col("__e.bucket"))) =!=
            size(col("__e.bucket")),
          raise_error(concat(lit(s"$ctx: doc "), col("doc").cast("string"),
            lit(" carries duplicate (doc, bucket) triples — one row " +
              "per bucket per doc is the hashingTfIdf contract"))))
          .otherwise(col("__e.bucket")).as("buckets"),
        col("__e.weight").as("weights"))

  /** AUTO-DISPATCH between the exact ([[crossCosinePairs]]) and banded
    * ([[crossCosinePairsLsh]]) semantic-decontam shapes — the
    * [[AnnSearch.knnJoin]] declared-budget discipline applied here
    * (VERDICT r17 task 3): the exact operator's one non-negotiable is
    * that the EVAL side broadcasts whole (its triples feed a map-side
    * bucket join), so estimate that broadcast — eval triple count ×
    * ~40 B/triple (doc + bucket + weight + row overhead) — against the
    * session's `autoBroadcastJoinThreshold` and dispatch: under it,
    * the exact bucket join (no shuffle, no recall loss); past it, the
    * banded path (signature collisions + exact verify, the only shape
    * that scales once benchmarks outgrow a broadcast). The threshold
    * is the session's DECLARED budget, so the dispatch is portable to
    * a real cluster rather than tuned to local[32]; a disabled
    * threshold (≤ 0) always takes the banded shape. `evalTriplesHint`
    * skips the count when the caller already knows it (catalog stats,
    * a materialized frame). Both branches emit (train_doc, eval_doc,
    * cosine ≥ θ); the banded branch is output-⊆-exact with the c30
    * recall contract. */
  def crossCosineAuto(train: DataFrame, eval: DataFrame, theta: Double,
      dim: Int, bits: Int = 10, tables: Int = 12,
      maxBucketOcc: Long = CrossCosineMaxBucketOcc,
      evalTriplesHint: Long = -1L): DataFrame = {
    val threshold =
      train.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val n = if (evalTriplesHint >= 0) evalTriplesHint else eval.count()
    if (crossCosineBroadcastFits(n, threshold))
      crossCosinePairs(train, eval, theta, maxBucketOcc)
    else crossCosinePairsLsh(train, eval, theta, dim, bits, tables)
  }

  /** The [[crossCosineAuto]] decision rule, exposed for the spec: does
    * the eval side's triple frame fit the session's declared broadcast
    * budget? ~40 B/triple: 8 (doc) + 8 (bucket) + 8 (weight) + ~16 row
    * overhead in the broadcast hash relation. */
  private[graft] def crossCosineBroadcastFits(evalTriples: Long,
      threshold: Long): Boolean =
    threshold > 0 && evalTriples * 40L <= threshold

  /** Exact-substring shared spans — the dedup criterion of Lee et al.
    * 2021 ("Deduplicating Training Data Makes Language Models Better",
    * public), which removes VERBATIM repeated spans of ≥ L tokens
    * across documents (their threshold: 50 BPE tokens; word-token L
    * here). The published implementation builds a corpus-wide suffix
    * array — inherently sequential state. This is the distributed
    * seed-and-extend formulation of the same criterion: any shared
    * span of length s ≥ L contains exactly s − L + 1 of its L-gram
    * seeds at CONSECUTIVE positions in both documents, so
    *  1. seed: positional L-grams ([[graft.functions
    *     .word_shingles_all]] + posexplode, one narrow pass) self-join
    *     on the gram — the only corpus-sized shuffle, proportional to
    *     seed MATCHES, not pairs of documents;
    *  2. extend: matches sharing a (doc_a, doc_b) DIAGONAL (pos_a −
    *     pos_b) are consecutive iff their positions are consecutive —
    *     the classic run-length grouping (pos − row_number) merges each
    *     run in one window pass, recovering the MAXIMAL span exactly:
    *     a run of c seeds is a shared span of c + L − 1 tokens.
    * Deterministic integers end-to-end → hash-exact DuckDB oracle.
    *
    * Scale notes (the two hardened behaviors, VERDICT r9 task 1):
    *  - the self-join keys on `xxhash64(gram)` — 8 bytes — never the
    *    raw L-word string, so the only corpus-sized shuffle carries
    *    ~8 B/seed instead of the ~L·avg-word bytes the string key
    *    would (measured at L=13: ×15.6 per key, ×5.2 total seed-join
    *    shuffle write — 868→168 MiB on the 100k-doc canary corpus,
    *    tools/spanpayload_r10.txt). A 64-bit collision
    *    (~n²/2⁶⁵ for n distinct grams — < 1e-7 even at 10¹² grams)
    *    can at worst seed one phantom single-seed span or extend a
    *    run by one; callers needing certainty re-verify survivors
    *    against the text (the [[bloomAntiJoin]] discipline).
    *  - `maxGramOcc` is the hot-gram valve, the analogue of
    *    SimilarityJoin's token-salt budget: a gram occurring f_a
    *    times in doc A and f_b in doc B seeds f_a·f_b matches, so
    *    corpus-hot boilerplate (license headers shared by millions
    *    of docs, degenerate "a a a …" text) makes the seed join
    *    quadratic. With the ceiling set, grams whose TOTAL corpus
    *    occurrence count exceeds it are dropped before the join
    *    (heavy-hitter set is small by construction → broadcast
    *    anti-join; the counting pass is map-side-combined). RECALL
    *    CONTRACT: output is exactly what the un-ceilinged operator
    *    would report on the corpus with hot-gram seeds deleted — a
    *    span all of whose L-gram seeds are hot disappears entirely
    *    (that is the point: corpus-wide boilerplate is not a
    *    doc-pair duplication signal), and a span with hot INTERIOR
    *    seeds is reported as its surviving fragments (each still
    *    ≥ minLen by the run-length arithmetic). Default disabled
    *    (Long.MaxValue): results are then the exact Lee et al.
    *    criterion, and seed matching at production L (13–50) is
    *    sparse on deduplicated natural text (the c10 measurement:
    *    zero shared 13-grams across 500 docs).
    * Output: doc_a < doc_b, start_a, start_b (token positions),
    * span_len (tokens, ≥ minLen). */
  def sharedSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int, maxGramOcc: Long = Long.MaxValue): DataFrame = {
    require(minLen >= 1, s"minimum span length must be >= 1, got $minLen")
    require(maxGramOcc >= 2,
      s"maxGramOcc < 2 would drop every matchable gram, got $maxGramOcc")
    val grams = df
      .select(col(idCol).as("doc"),
        posexplode(graft.functions.word_shingles_all(col(textCol), minLen))
          .as(Seq("pos", "gram")))
      .select(col("doc"), col("pos"), xxhash64(col("gram")).as("gh"))
    val kept =
      if (maxGramOcc == Long.MaxValue) grams
      else {
        // heavy hitters only: the frame is normally tiny (grams ABOVE
        // the ceiling), and the count itself is one map-side-combined
        // aggregation over 8-byte keys; the broadcast is size-guarded
        // because "tiny" is caller-controlled (see [[hotAntiJoin]])
        val hot = grams.groupBy(col("gh"))
          .agg(count(lit(1)).as("__occ"))
          .where(col("__occ") > maxGramOcc)
          .select(col("gh"))
        hotAntiJoin(grams, hot, Seq("gh"), "sharedSpans")
      }
    val a = kept.select(col("doc").as("doc_a"), col("pos").as("pos_a"),
      col("gh"))
    val b = kept.select(col("doc").as("doc_b"), col("pos").as("pos_b"),
      col("gh"))
    val seeds = a.join(b, "gh").where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"), col("pos_b"))
    seeds
      .withColumn("__grp", col("pos_a") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_a"), col("doc_b"),
            col("pos_a") - col("pos_b")).orderBy(col("pos_a"))))
      .groupBy(col("doc_a"), col("doc_b"),
        (col("pos_a") - col("pos_b")).as("__diag"), col("__grp"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        (count(lit(1)) + minLen - 1).as("span_len"))
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("span_len"))
  }

  /** The REMOVAL action of Lee et al. 2021 over [[sharedSpans]]: their
    * pipeline doesn't just detect verbatim repeated spans ≥ L tokens,
    * it CUTS every duplicated occurrence except one from the training
    * text. Deterministic survivor policy (the codebase's min-id
    * discipline): for every reported span the doc_a (smaller-id)
    * occurrence is the canonical copy and the doc_b token interval
    * `[start_b, start_b + span_len)` is removed; a doc's intervals
    * from ALL its pairings apply together (overlaps union naturally —
    * a token is dropped if ANY interval covers it).
    *
    * Output: idCol, text_clean (surviving tokens joined by single
    * spaces — token surgery normalizes whitespace for every doc, cut
    * or not, so the result is engine-replayable), n_removed_tokens.
    * Scale shape: [[sharedSpans]]'s cost plus one doc-keyed
    * `collect_list` of the (tiny) interval set and a narrow per-row
    * filter — the interval check is len(tokens)·|intervals| per doc,
    * and intervals are few by the span-merging arithmetic. Integer
    * positions + pure string surgery → hash-exact DuckDB oracle. */
  def removeSharedSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int, maxGramOcc: Long = Long.MaxValue): DataFrame = {
    val spans = sharedSpans(df, idCol, textCol, minLen, maxGramOcc)
    val cuts = spans.groupBy(col("doc_b"))
      .agg(collect_list(array(col("start_b").cast("long"),
        col("span_len"))).as("__ivs"))
    // NULL text participates in the whitespace-normalization contract
    // like empty text (the t12 coalesce discipline): ('', 0), not
    // (NULL, NULL) — NULL would otherwise propagate through trim/split
    val txt = coalesce(col(textCol), lit(""))
    val toks = when(length(trim(txt)) === 0,
        array().cast("array<string>"))
      .otherwise(split(trim(txt), "\\s+"))
    df.join(cuts, col(idCol) === cuts("doc_b"), "left")
      .withColumn("__toks", toks)
      .withColumn("__kept", filter(col("__toks"),
        (_, i) => coalesce(
          !exists(col("__ivs"),
            iv => i.cast("long") >= iv.getItem(0) &&
              i.cast("long") < iv.getItem(0) + iv.getItem(1)),
          lit(true))))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("text_clean"),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("n_removed_tokens"))
  }

  /** Anti-join `big` against a heavy-hitter frame of hash keys, with
    * the broadcast SIZE-GUARDED instead of assumed: the hot set is
    * "small by construction" only for sane ceilings — a caller passing
    * a low `maxGramOcc`/`maxDocFreq` on a highly repetitive corpus makes
    * it corpus-scale, and a forced `broadcast()` hint is mandatory to
    * the planner, so it would OOM the driver.
    *
    * The guard costs NO extra job (VERDICT r11 task 2 — the r11 shape
    * ran an eager `count()` plus a persist per call, ~0.3–0.4 s at
    * bench scale): a broadcast must collect the hot rows to the driver
    * anyway, so the guard IS that collect, capped — fetch at most
    * `cap + 1` rows (`cap` = `autoBroadcastJoinThreshold` over the
    * bytes-per-row implied by the KEY SCHEMA (×2 row overhead — the
    * measured ~16 B for an 8-byte hash key, now generalized to wide
    * keys per ADVICE r11), so a wide-key reuse cannot sneak a
    * threshold-busting set past a row-count check). Within the cap, the
    * collected rows become a broadcast local relation: the join does
    * zero hot-side work. Past it — or with broadcasting disabled
    * (threshold ≤ 0, where the probe is skipped entirely) — the join
    * falls back to the shuffled left_anti: the probe side then
    * exchanges on the hash key too (the unavoidable cost of a hot set
    * too large to replicate), AQE re-plans from runtime sizes, and the
    * hot aggregation is recomputed inside the join (one extra pass,
    * accepted on this rare hostile-ceiling path in exchange for the
    * common path's saved job + persist). */
  private def hotAntiJoin(big: DataFrame, hot: DataFrame,
      keys: Seq[String], slot: String): DataFrame = {
    val spark = big.sparkSession
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val rowBytes =
      2L * math.max(8, hot.schema.map(_.dataType.defaultSize).sum)
    val cap = if (threshold > 0)
      math.min(math.max(1L, threshold / rowBytes), Int.MaxValue - 2L).toInt
    else 0
    val probe =
      if (cap > 0) hot.limit(cap + 1).collect() else Array.empty[Row]
    if (cap > 0 && probe.length <= cap) {
      import scala.jdk.CollectionConverters._
      val local = spark.createDataFrame(probe.toSeq.asJava, hot.schema)
      big.join(broadcast(local), keys, "left_anti")
    } else big.join(hot, keys, "left_anti")
  }

  /** Corpus-level repeated-UNIT removal — the line-dedup stage of the
    * MassiveText/RefinedWeb pipelines (Rae et al. 2021 §A.1.2 remove
    * documents' repeated lines; Penedo et al. 2023 dedup lines across
    * the corpus), generalized to any unit column: given an exploded
    * (doc, position, unit) frame, drop every occurrence of a unit
    * whose corpus-wide DOCUMENT frequency exceeds `maxDocFreq` —
    * boilerplate navigation bars, cookie banners, license footers
    * appear verbatim in many documents and are removed from ALL of
    * them (corpus-wide boilerplate is not content; the d10/d11 span
    * machinery handles pairwise duplication where one canonical copy
    * should survive).
    *
    * Scale shape: document frequencies are counted on `xxhash64(unit)`
    * — never the raw unit text — so the DISTINCT (unit, doc) pairs the
    * `countDistinct` shuffles are ~16 B rows instead of the 50–500 B a
    * line/chunk string key would carry (the same key discipline as
    * [[sharedSpans]]'s seeds, measured there at ×15.6 per key; A/B for
    * this operator in tools/unitpayload_r11.txt). Units ABOVE the
    * ceiling are the corpus's boilerplate vocabulary — normally few —
    * so the removal is a broadcast anti-join on the 8-byte hash, with
    * the broadcast size-guarded by [[hotAntiJoin]] for hostile
    * ceilings. The corpus never shuffles its unit text: the df pass
    * exchanges hashed pairs and the anti-join replicates the hot hashes
    * (only the guarded corpus-scale-hot fallback exchanges unit rows,
    * keyed on the hash). A 64-bit hash
    * collision (~n²/2⁶⁵ across distinct units) can at worst delete an
    * innocent unit that collides with a hot one or nudge one df count;
    * callers needing certainty re-verify against the text (the
    * [[bloomAntiJoin]] discipline). Returns the kept rows of `units`
    * unchanged; callers reassemble documents by grouping on position
    * order. */
  def dropRepeatedUnits(units: DataFrame, docCol: String, unitCol: String,
      maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val hashed = units.withColumn("__uh", xxhash64(col(unitCol)))
    val hot = hashed.groupBy(col("__uh"))
      .agg(countDistinct(col(docCol)).as("__df"))
      .where(col("__df") > maxDocFreq)
      .select(col("__uh"))
    hotAntiJoin(hashed, hot, Seq("__uh"), "dropRepeatedUnits").drop("__uh")
  }

  /** The probe predicate of [[bloomAntiJoin]], standalone: aggregates
    * `ref`'s `xxhash64(key)`s into a Bloom filter (distributive
    * partition-merge, `sketch.BloomFilter`) and returns a codegen
    * might-contain predicate over the same hash (Spark's own
    * `BloomFilterMightContain` — the runtime-filter expression — with
    * the frozen bits as a binary literal). False → key DEFINITELY not in
    * ref; true → verify. Usable alone as a pre-shuffle row filter (the
    * runtime-filter pattern, but against a persisted/cross-job set). */
  def bloomMightContain(ref: DataFrame, key: Column, expectedItems: Long,
      fpp: Double = 0.01): Column = {
    val bloom = ref.select(xxhash64(key).as("__k"))
      .stat.bloomFilter("__k", expectedItems, fpp)
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      bloom.writeTo(out)
      out.toByteArray
    }
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bytes,
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.graft.ColumnBridge.expression(xxhash64(key))))
  }

  /** MinHash signature column: array of `numHashes` min-hashes of the
    * shingle set, using xxhash64(seed_i, shingle). Empty sets get
    * Long.MaxValue sentinels (never collide with real buckets).
    * Single compiled pass; hash-identical to the
    * `transform(sequence(…), i => array_min(transform(sh, g =>
    * xxhash64(i, g))))` formulation it replaced — including NULL input
    * arrays mapping to the all-sentinel signature (the kernel expression
    * alone null-propagates; the coalesce restores the old contract). */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    coalesce(graft.functions.minhash_sig(sh, numHashes),
      typedLit(Array.fill(numHashes)(Long.MaxValue)))

  /** MinHash+LSH near-dup pairs with exact-Jaccard verification.
    *
    * @param numHashes signature length (bands * rowsPerBand)
    * @param rowsPerBand rows per LSH band
    * @param theta final exact-Jaccard threshold
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, theta: Double): DataFrame =
    minhashPairsFromSets(minhashSets(df, idCol, textCol, n, numHashes),
      rowsPerBand, theta)

  /** The signature half of [[minhashLshPairs]]: per-doc (doc, sh, sig)
    * rows — shingle set plus MinHash signature. Deterministic per
    * document, which is what makes the frame PERSISTABLE: an incremental
    * refresh ([[SilverIndex.refreshMinhash]]) computes this only for new
    * doc ids and appends, and the union is row-identical to a from-
    * scratch build. */
  def minhashSets(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame =
    // shingleSets already ends in a repartition-by-doc exchange; the
    // single-pass signature kernel computes there directly
    shingleSets(df, idCol, textCol, n)
      .where(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), numHashes))

  /** The banding half of [[minhashLshPairs]], runnable from a LIVE
    * [[minhashSets]] frame or a persisted signature table (the signature
    * length is `size(sig)` — not re-derived — so a stored index carries
    * its own configuration).
    *
    * `newIds` restricts to pairs INVOLVING a delta — the per-micro-batch
    * kernel of STREAMING near-dup maintenance
    * ([[graft.pipeline.SilverIndex.nearDupBatch]]): run against the
    * post-append signature table with the batch's genuinely-new ids,
    * every near-dup pair is emitted exactly once, in the batch where its
    * later-arriving member lands ([[bucketPairs]]), so the union over
    * batches ≡ the from-scratch output. At scale the all-docs band side
    * comes from the persisted signature table (band keys are per-doc
    * deterministic, so a deployment can persist them append-only
    * alongside the signatures); the delta's join cost is ∝ bucket
    * collisions with the delta, never the corpus pair space. */
  def minhashPairsFromSets(sets: DataFrame, rowsPerBand: Int,
      theta: Double, newIds: Option[DataFrame] = None): DataFrame = {
    val candidates =
      bucketPairs(bandKeys(sets, rowsPerBand), "doc", Seq("band", "bucket"),
          newIds)()
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
        .distinct()
    verifyJaccard(candidates, sets.select(col("doc"), col("sh")), theta)
  }

  /** The LSH band keys of a signature frame: one (doc, band, bucket)
    * row per band. Band count comes from the data, not a parameter:
    * banding a stored index with a mismatched numHashes would silently
    * change recall. Band key = (band index, hash of the band's
    * signature slice); band rows carry ids only — shingle arrays rejoin
    * at verification. */
  private def bandKeys(sets: DataFrame, rowsPerBand: Int): DataFrame = {
    val numBands = (size(col("sig")) / rowsPerBand).cast("int")
    sets.select(col("doc"),
      posexplode(transform(
        sequence(lit(0), numBands - 1), b =>
          xxhash64(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** 64-bit SimHash per document over distinct word n-gram shingles
    * (n=1 → plain tokens; n≥2 captures ordering like the Jaccard ops).
    * One compiled pass per document ([[graft.functions.TextKernel
    * .simhash64]]) — bit-identical to, and shuffle-free unlike, the
    * explode + 64-column ±1 vote aggregation it replaced. */
  def simhashDocs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2): DataFrame =
    shingleSets(df, idCol, textCol, shingleN)
      .where(size(col("sh")) > 0) // parity: explode+groupBy dropped empty docs
      .select(col("doc"), graft.functions.simhash64(col("sh")).as("simhash"))

  /** SimHash near-dup pairs within Hamming distance `maxDist`, found via
    * pigeonhole banding into `maxDist + 1` chunks. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, shingleN: Int = 2): DataFrame =
    hammingPairs(simhashDocs(df, idCol, textCol, shingleN), maxDist)

  /** The pigeonhole-banding half of [[simhashPairs]], runnable over ANY
    * 64-bit signature frame (doc, simhash) — text SimHashes, perceptual
    * frame fingerprints ([[Multimodal.dhashFingerprint]]), any keyed
    * bit-signature. Two signatures within Hamming distance `maxDist`
    * must agree EXACTLY on at least one of `maxDist + 1` disjoint bit
    * chunks (pigeonhole), so the join keys on (chunk, chunk-value)
    * buckets and never goes all-pairs; the exact Hamming bound filters
    * inside the codegen'd join condition.
    *
    * `newIds`: pairs where AT LEAST ONE side is listed — what a
    * streaming refresh ([[graft.pipeline.SilverIndex.simhashPairsBatch]],
    * [[graft.pipeline.SilverIndex.frameNearDupBatch]]) emits for an
    * arriving batch, so every pair surfaces exactly once across the
    * feed's lifetime, in the batch its later member arrives
    * ([[bucketPairs]]). One side of the bucket join is the new slice
    * (batch-sized); the full side never self-joins. */
  def hammingPairs(docs: DataFrame, maxDist: Int,
      newIds: Option[DataFrame] = None): DataFrame = {
    val numChunks = maxDist + 1
    val chunkBits = 64 / numChunks
    // chunkBits = 64 (maxDist = 0) would shift-wrap the mask to 0 and
    // send every doc to one bucket — use the full signature as the key
    val chunkMask = if (chunkBits >= 64) -1L else (1L << chunkBits) - 1
    val chunked = docs.select(col("doc"), col("simhash"),
      posexplode(array((0 until numChunks).map { c =>
        shiftrightunsigned(col("simhash"), c * chunkBits)
          .bitwiseAND(lit(chunkMask))
      }: _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "ckey")
    def dist = graft.functions.TextFunctions.hamming64(
      col("a.simhash"), col("b.simhash"))
    // hamming filter INSIDE the join condition: buckets are coarse (2^chunkBits
    // per chunk), so at scale most bucket-collision pairs fail the distance
    // bound — rejecting them in the codegen'd join output beats shuffling
    // the full candidate set through the pair-dedup (measured at 100k docs:
    // 155M candidate rows, 68 s → 4 s)
    bucketPairs(chunked, "doc", Seq("chunk", "ckey"), newIds)(dist <= maxDist)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        dist.cast("int").as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** All single-character deletions of `s` (the symmetric-delete
    * neighborhood's generator) — pure built-ins, no UDF: one
    * transform over the character positions. Empty strings have no
    * deletions (and sequence(1, 0) would flip to a DESCENDING range —
    * hence the guard, spec-pinned). */
  private def deletions(s: Column): Column =
    when(length(s) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(s), lit(1)),
        i => concat(s.substr(lit(1), i - 1),
          s.substr(i + 1, length(s) - i))))

  /** EDIT-DISTANCE pair finder over short keys (titles, names, codes)
    * — the entity-resolution primitive the token/shingle family cannot
    * express: "HR Specialist" vs "HR Specialist" with one typo shares
    * every token, but "Analyst II" vs "Analyst III" is an EDIT
    * question, and at 10⁸ keys the all-pairs levenshtein the reference
    * effectively runs (rapidfuzz cdist over the full cross product,
    * src/fuzzy_matching.py) is the scale wall.
    *
    * Symmetric-delete blocking (the SymSpell construction — Garbe,
    * public domain): if lev(a, b) ≤ d then a and b share at least one
    * member of their ≤d-deletion neighborhoods (a substitution is one
    * deletion on EACH side; an insert/delete is one deletion on the
    * longer side), so candidates = the self-join on deletion variants,
    * and each candidate VERIFIES with one exact levenshtein INSIDE the
    * join condition (the [[hammingPairs]] lesson: reject in the
    * codegen'd join output, never shuffle the failing candidates).
    * Variants join by `xxhash64` (8 bytes — the d10 key discipline; a
    * hash collision can only ADD a candidate, and verification removes
    * it).
    *
    * Cost: ~|key|^d variants per row (|key| at d=1, pairs-of-positions
    * at d=2), each 8 bytes keyed; nothing all-pairs. `maxVariantOcc`
    * is the hot-variant valve (the d10 maxGramOcc discipline): a
    * variant bucket shared by more than this many keys is dropped
    * whole — bounded recall loss under adversarial key spaces (a
    * million 1-char keys), zero effect on natural ones; the default
    * keeps everything. */
  def editPairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, maxVariantOcc: Long = Long.MaxValue): DataFrame =
    editPairsFromKeys(editVariantKeys(df, idCol, strCol, maxDist),
      maxDist, maxVariantOcc)

  /** The symmetric-delete variant-key table behind [[editPairs]] —
    * (id, str, vk) with one row per distinct ≤`maxDist`-deletion
    * variant hash of each key. Per-ROW deterministic (the deletion
    * neighborhood is a pure function of the string), which is what
    * lets [[graft.pipeline.SilverIndex.refreshEditIndex]] persist it
    * append-only with delta ≡ scratch (d18, the m9 discipline). */
  def editVariantKeys(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"symmetric-delete blocking is exact for maxDist 1 or 2: $maxDist")
    val base = df
      .where(col(idCol).isNotNull && col(strCol).isNotNull)
      .select(col(idCol).as("id"), col(strCol).as("str"))
    val v1 = base.select(col("id"), col("str"),
      explode(array_union(array(col("str")), deletions(col("str"))))
        .as("variant"))
    val vd = if (maxDist == 1) v1
      else v1.select(col("id"), col("str"),
        explode(array_union(array(col("variant")),
          deletions(col("variant")))).as("variant"))
    vd.select(col("id"), col("str"), xxhash64(col("variant")).as("vk"))
      .distinct()
  }

  /** The candidate join + exact-levenshtein verify of [[editPairs]]
    * over an (id, str, vk) variant-key table — scratch-built
    * ([[editVariantKeys]]) or served from the persisted index
    * ([[graft.pipeline.SilverIndex.editPairsFromIndex]]). The
    * hot-variant valve applies HERE, at serve time, because variant
    * occupancy is a corpus-wide property the per-row append cannot
    * know.
    *
    * `newIds`: every pair touching a listed id, for the streaming face
    * of the persisted edit-pair index
    * ([[graft.pipeline.SilverIndex.editPairsBatch]], d18). `keyed` is
    * then the full table INCLUDING the new rows; each pair is emitted
    * once, in the batch its later id arrives ([[bucketPairs]]), with
    * str_a/str_b following the id orientation. The valve is evaluated
    * over the full table AS OF THE BATCH, so each delta matches what the
    * full serve would emit over that snapshot. NOTE the valve's
    * accumulation semantics (ADVICE r17): variant occupancy grows
    * monotonically, so with a finite `maxVariantOcc` a pair emitted
    * while its variant key was still under the ceiling REMAINS in the
    * accumulated pairs table after the key crosses it, while a
    * from-scratch serve would drop it — the union of deltas equals
    * serve-time output exactly only when the valve is off
    * (`Long.MaxValue`, the default). With the valve on, the accumulated
    * table is a SUPERSET of the serve output restricted to pairs that
    * were cold at emission time — operationally the desirable reading
    * (a pair verified under the exact levenshtein check never
    * un-verifies), but not the serve equality; consumers needing the
    * serve semantics re-filter against [[keptVariantKeys]] at read
    * time. */
  def editPairsFromKeys(keyed: DataFrame, maxDist: Int,
      maxVariantOcc: Long = Long.MaxValue,
      newIds: Option[DataFrame] = None): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"symmetric-delete blocking is exact for maxDist 1 or 2: $maxDist")
    require(maxVariantOcc >= 2, s"maxVariantOcc must be >= 2: $maxVariantOcc")
    def dist = levenshtein(col("a.str"), col("b.str"))
    bucketPairs(keptVariantKeys(keyed, maxVariantOcc), "id", Seq("vk"),
        newIds)(dist <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.str").as("str_a"), col("b.str").as("str_b"),
        dist.cast("long").as("dist"))
      .dropDuplicates("id_a", "id_b")
  }

  /** The hot-variant valve applied to a variant-key table. */
  private[graft] def keptVariantKeys(keyed: DataFrame,
      maxVariantOcc: Long): DataFrame =
    if (maxVariantOcc == Long.MaxValue) keyed
    else {
      val hot = keyed.groupBy("vk")
        .agg(count(lit(1)).as("__n"))
        .where(col("__n") > maxVariantOcc)
        .select(col("vk"))
      keyed.join(hot, Seq("vk"), "left_anti")
    }

  /** Quality-aware canonical selection over near-dup clusters — the
    * production dedup shape: instead of keeping an ARBITRARY survivor
    * per duplicate cluster (the [[Components.nearDupComponents]]
    * `component == id` convention), keep the BEST document under a
    * caller-supplied ranking (longest, least punctuation-noisy, …).
    * This is what corpus pipelines actually ship — near-dup clusters
    * frequently contain one clean original and several truncated or
    * boilerplate-wrapped copies, and min-doc_id survivorship keeps a
    * random one of them.
    *
    * `rankCols` are compared as a struct, LARGEST wins; the caller must
    * make the ranking total (end with a unique tiebreaker such as
    * `-col(idCol)`), otherwise `keep` can mark several rows in a
    * cluster.
    *
    * Scale shape: the pair generator and the O(log n) component closure
    * are the dominant cost and are already bucketed ([[jaccardPairs]] /
    * [[minhashLshPairs]] docs); the selection itself is one
    * partial-aggregated `groupBy(component)` producing cluster-
    * cardinality rows, then an equi-join back on `component` — AQE
    * broadcasts the aggregated side whenever clusters ≪ docs (the
    * common case; a window `row_number` would instead force a full
    * sort per cluster and cannot be broadcast). The joined frame is
    * computed once behind a [[ManagedCache]] barrier so the cluster
    * lineage (pairs + closure) is not evaluated twice.
    *
    * Returns the input rows + `component` (cluster root id),
    * `cluster_size`, and `keep` (1 for the per-cluster argmax, else 0).
    */
  def keepBestPerCluster(docs: DataFrame, idCol: String, pairs: DataFrame,
      rankCols: Seq[Column], aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    require(rankCols.nonEmpty, "keepBestPerCluster needs ranking columns")
    graft.Reserved.requireNone(docs, "Dedup.keepBestPerCluster")
    Seq("component", "cluster_size", "keep").foreach(c =>
      require(!docs.columns.contains(c),
        s"keepBestPerCluster emits column '$c'; rename the input column"))
    val ranked = graft.ManagedCache.swap("Dedup.keepBestPerCluster",
      Components.nearDupComponents(docs, idCol, pairs, aCol, bCol)
        .withColumn("__graft_rank", struct(rankCols: _*)))
    val best = ranked.groupBy(col("component"))
      .agg(max(col("__graft_rank")).as("__graft_best"),
        count(lit(1)).as("cluster_size"))
    ranked.join(best, Seq("component"))
      .withColumn("keep",
        (col("__graft_rank") === col("__graft_best")).cast("long"))
      .drop("__graft_rank", "__graft_best")
  }

  /** Exact shingle-CONTAINMENT ≥ θ pairs — the asymmetric near-dup
    * criterion symmetric Jaccard misses: a short doc quoted nearly
    * verbatim inside a long one has C(A,B) = |A∩B|/|A| ≈ 1 while its
    * Jaccard ≈ |A|/|B| ≈ 0 sails under every [[jaccardPairs]]
    * threshold (press-release laundering, quote farms, template
    * embedding).
    *
    * Candidate generation is the ASYMMETRIC prefix filter — lossless:
    * if C(A,B) ≥ θ then A∩B misses at most (1−θ)·|A| of A's shingles,
    * so at least one of A's ⌊(1−θ)·|A|⌋+1 globally-RAREST shingles is
    * in B. Only the smaller side contributes a prefix; the larger side
    * posts all its shingles — never all pairs, and the prefix keys are
    * xxhash64 longs (the d2/d10 discipline: 8-byte hashes for
    * blocking, TRUE shingle sets for verification, so a collision
    * costs a spurious candidate, never a wrong pair). Verification is
    * one exact set intersection per surviving candidate; containment
    * is an int/int ratio → engine-exact.
    *
    * Output: (doc_small, doc_big, n_shared, containment) with the
    * smaller side defined by (|sh|, id) so equal-size pairs appear
    * exactly once.
    *
    * The exploded posting frame `ex` below is consumed three times
    * (gram-frequency agg, prefix side, full posting side) and
    * deliberately NOT persisted: each rebuild is explode+xxhash64 over
    * the already-cached `sets` — cheap CPU next to the downstream
    * shuffles — while caching it would materialize a corpus-sized
    * posting table (A/B'd flat at sf0.1, net-negative at scale; see
    * tools/d14_ab_r14.txt). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, theta: Double): DataFrame = {
    require(theta > 0.0 && theta <= 1.0,
      s"theta must be in (0, 1]: $theta")
    val sets = graft.ManagedCache.swap("Dedup.containmentPairs",
      Par.spread(df, col(idCol))
        .select(col(idCol).as("doc"),
          graft.functions.word_shingles(col(textCol), n).as("sh"))
        .withColumn("sz", size(col("sh")))
        .where(col("sz") > 0))
    // consumed three times (frequency agg, prefix side, full posting
    // side) and deliberately NOT persisted — see the scaladoc note and
    // tools/d14_ab_r14.txt for the measured rejection
    val ex = sets
      .select(col("doc"), col("sz"), explode(col("sh")).as("g"))
      .select(col("doc"), col("sz"), xxhash64(col("g")).as("gh"))
    verifyContainment(containmentCandidates(ex, theta, newIds = None),
      sets, "sh", theta)
  }

  /** The exact containment verify, over whichever per-doc array column
    * `arr` of `sets` holds the distinct grams (the string sets of the
    * scratch operator, the stored hash arrays of the served one): one
    * array_intersect per surviving candidate; containment = n_shared /
    * the TRUE distinct-gram count `sz`. */
  private def verifyContainment(cands: DataFrame, sets: DataFrame,
      arr: String, theta: Double): DataFrame =
    cands
      .join(sets.select(col("doc").as("doc_s"), col(arr).as("sh_s"),
        col("sz").as("sz_s")), "doc_s")
      .join(sets.select(col("doc").as("doc_b"), col(arr).as("sh_b")),
        "doc_b")
      .withColumn("n_shared",
        size(array_intersect(col("sh_s"), col("sh_b"))).cast("long"))
      .withColumn("containment",
        col("n_shared").cast("double") / col("sz_s"))
      .where(col("containment") >= theta)
      .select(col("doc_s").as("doc_small"), col("doc_b").as("doc_big"),
        col("n_shared"), col("containment"))

  /** The asymmetric rarest-prefix candidate stage of
    * [[containmentPairs]], over an exploded (doc, sz, gh) posting frame
    * — factored so the scratch operator and the persisted-index serve
    * ([[containmentPairsFromStored]], d20) run ONE candidate plan.
    *
    * The prefix is chosen at THIS point — never stored — because global
    * gram rarity is a corpus-wide property a per-doc append cannot know
    * (the d18 hot-variant-valve stance verbatim): a stored prefix would
    * either freeze stale frequencies (breaking delta ≡ scratch as the
    * corpus grows) or fall back to a frequency-blind per-doc rule,
    * which on a hot-gram corpus posts common grams into prefixes and
    * explodes the candidate join. Correctness is UNAFFECTED by the
    * choice — the lossless guarantee (containmentPairs scaladoc) holds
    * for ANY ⌊(1−θ)·|A|⌋+2 shingles of A, so the verified output is
    * prefix-choice-independent; rarity is purely the selectivity
    * heuristic, and re-ranking from the current postings keeps it
    * exact at every refresh state.
    *
    * `newIds` (the delta face, d20's streaming batches): restrict to
    * candidates touching a listed doc on EITHER side — the prefix RANK
    * still computes over the full frame as-of-now, so each delta is
    * exactly the full serve's candidates filtered to the new docs, and
    * the union of deltas equals the full serve (every true pair is
    * candidate-reachable in the batch its later member arrives, by the
    * same any-prefix losslessness; false candidates never verify).
    * The delta keeps two orientations rather than [[bucketPairs]]' one
    * join: the prefix side and the full posting side are different
    * frames, so a new doc must be looked up as the prefix (small) side
    * AND as the posting (big) side.
    *
    * +2, not the textbook +1: the verification predicate is the IEEE
    * compare shared/sz >= θ, and both floor((1−θ)·sz) here and that
    * compare can each sit one ulp off the exact rational boundary
    * (e.g. θ = 0.3, sz = 10: (1−0.3) rounds BELOW 0.7, the floor
    * lands at 6 where the exact bound needs 7). One extra prefix
    * shingle per doc provably covers both one-unit shortfalls;
    * DedupSpec's brute-force losslessness case runs the θ = 0.3
    * boundary. */
  private def containmentCandidates(ex: DataFrame, theta: Double,
      newIds: Option[DataFrame]): DataFrame = {
    val freq = ex.groupBy("gh").agg(count(lit(1)).as("gdf"))
    val rkW = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy(col("gdf"), col("gh"))
    val prefix = ex.join(freq, "gh")
      .withColumn("__rk", row_number().over(rkW))
      .where(col("__rk") <=
        floor(lit(1.0 - theta) * col("sz")).cast("int") + 2)
      .select(col("doc").as("doc_s"), col("sz").as("sz_s"), col("gh"))
    val full = ex.select(col("doc").as("doc_b"), col("sz").as("sz_b"),
      col("gh"))
    val raw = newIds match {
      case None => prefix.join(full, "gh")
      case Some(nw) =>
        val ids = nw.select(col(nw.columns.head).as("__nid"))
        prefix.join(ids.select(col("__nid").as("doc_s")), Seq("doc_s"),
            "left_semi")
          .join(full, "gh")
          .unionByName(prefix.join(
            full.join(ids.select(col("__nid").as("doc_b")), Seq("doc_b"),
              "left_semi"), "gh"))
    }
    raw.where(col("sz_s") < col("sz_b") ||
        (col("sz_s") === col("sz_b") && col("doc_s") < col("doc_b")))
      .select("doc_s", "doc_b").distinct()
  }

  /** Per-doc distinct-shingle HASH rows — the persisted-containment
    * artifact's row shape (d20): (doc, sz, hashes) with `hashes` the
    * ascending-sorted distinct xxhash64 grams and `sz` the TRUE
    * distinct-shingle count (pinned from the string sets, so an
    * in-doc hash collision can never shrink a containment
    * denominator). Pure per-doc function of the text — what makes
    * [[graft.pipeline.SilverIndex.refreshContainmentIndex]]'s
    * id-anti-join delta ≡ scratch exact (the d7/d18/m9 discipline). */
  private[graft] def containmentDocRows(df: DataFrame, idCol: String,
      textCol: String, n: Int, kind: String = "word"): DataFrame = {
    val grams = kind match {
      case "word" => graft.functions.word_shingles(col(textCol), n)
      case "char" => graft.functions.char_ngrams(col(textCol), n)
      case other => throw new IllegalArgumentException(
        s"shingle kind must be word or char: $other")
    }
    Par.spread(df, col(idCol))
      .select(col(idCol).as("doc"), grams.as("sh"))
      .withColumn("sz", size(col("sh")))
      .where(col("sz") > 0)
      .select(col("doc"), col("sz"), explode(col("sh")).as("g"))
      .groupBy("doc", "sz")
      .agg(sort_array(collect_set(xxhash64(col("g")))).as("hashes"))
      .select(col("doc"), col("sz"), col("hashes"))
  }

  /** [[containmentPairs]] served from a stored (doc, sz, hashes) table
    * — the weekly-audit shape (d20): zero text read, zero
    * shingling/normalization recompute; the posting explode, rarity
    * ranking, candidate join and verify all run over the 8-byte stored
    * hashes. Verification intersects the stored hash arrays instead of
    * the string sets — a cross-doc collision between two DISTINCT
    * grams could overcount n_shared by 1, at xxhash64's ~m²/2⁶⁵ pair
    * probability (~10⁻⁹ at 10⁵ distinct grams; the gate pins exact
    * equality with d14's string-set oracle at sf0.01). The artifact is
    * THETA-FREE: the threshold (and the rarest-prefix it sizes) is a
    * serve-time choice over the same stored rows, so one index answers
    * any audit threshold — see [[containmentCandidates]] for why the
    * prefix is never stored.
    *
    * `newIds`: every pair touching a listed doc, for the streaming face
    * of the persisted containment index
    * ([[graft.pipeline.SilverIndex.containmentPairsBatch]], d20).
    * `stored` is then the full table INCLUDING the new rows; the rarity
    * ranking computes over the table AS OF THE BATCH (choice-
    * independent), so each pair is emitted once, in the batch its later
    * member arrives, and the union of deltas equals the full serve over
    * the final table EXACTLY, with no valve caveat (the prefix filter is
    * lossless, nothing is dropped). */
  private[graft] def containmentPairsFromStored(stored: DataFrame,
      theta: Double, newIds: Option[DataFrame] = None): DataFrame = {
    val (st, ex) = storedPostings(stored, theta,
      "Dedup.containmentPairsFromStored")
    verifyContainment(containmentCandidates(ex, theta, newIds), st,
      "hashes", theta)
  }

  /** The opening of both stored-hash serves: the θ check, the cached
    * (doc, sz, hashes) table in the serve's [[graft.ManagedCache]]
    * slot, and its exploded (doc, sz, gh) postings. */
  private def storedPostings(stored: DataFrame, theta: Double,
      slot: String): (DataFrame, DataFrame) = {
    require(theta > 0.0 && theta <= 1.0,
      s"theta must be in (0, 1]: $theta")
    val st = graft.ManagedCache.swap(slot,
      stored.select(col("doc"), col("sz"), col("hashes")))
    (st, st.select(col("doc"), col("sz"), explode(col("hashes")).as("gh")))
  }

  /** [[jaccardPairsBy]]'s symmetric pairs served from a stored
    * (doc, sz, hashes) table — the SAME artifact the containment serve
    * reads (d20): the per-doc sorted distinct-gram-hash rows are
    * CRITERION-FREE set state, so one maintained index answers both the
    * asymmetric containment audit and the symmetric Jaccard audit, at
    * any serve-time θ, with zero text read and zero shingling recompute
    * (d22). Candidates come from the factored [[jaccardCandidates]]
    * prefix plan (frequency and prefix rank re-derived from the stored
    * postings at serve time — the theta-free stance verbatim:
    * nothing threshold- or rarity-shaped is stored); verification is
    * one codegen sorted-long merge per surviving candidate
    * ([[graft.functions.SortedLongJaccard]]).
    *
    * Equality with the scratch operator: candidates are a lossless
    * superset under the shared (gdf, gh) order either way, and the
    * verify value inter/(|A|+|B|−inter) over the stored DISTINCT hash
    * arrays is bit-identical to the string-set value unless xxhash64
    * collides two distinct grams of the pair (which would perturb
    * inter, and array lengths under an in-doc collision) — the d20
    * verify's failure mode and probability verbatim, ~m²/2⁶⁵ per pair
    * (~10⁻⁹ at 10⁵ distinct grams). The gate's d22 entry pins exact
    * equality with d2's brute-force string oracle at sf0.01 every
    * battery.
    *
    * `newIds`: every pair touching a listed doc, for the streaming face
    * of the persisted shingle index
    * ([[graft.pipeline.SilverIndex.jaccardPairsBatch]], d22). `stored`
    * is then the full table INCLUDING the new rows; the density gate is
    * skipped (whatever `strategy`) and the prefix candidates run, their
    * order computed over the table AS OF THE BATCH — lossless for every
    * pair existing then, so each pair is emitted once, in the batch its
    * later member arrives, and the union of deltas equals the full
    * serve over the final table EXACTLY. */
  private[graft] def jaccardPairsFromStored(stored: DataFrame,
      theta: Double,
      strategy: JaccardStrategy = JaccardStrategy.Auto,
      newIds: Option[DataFrame] = None): DataFrame = {
    val (st, ex) = storedPostings(stored, theta,
      "Dedup.jaccardPairsFromStored")
    val freq = ex.groupBy("gh").agg(count(lit(1)).as("gdf"))
    def sparse =
      verifyJaccardHashes(jaccardCandidates(ex, freq, theta, newIds), st,
        theta)
    if (newIds.isDefined) sparse
    else densityGate(st, freq, None, st.count(), strategy)(
      // bitsetAllPairs is gram-type-generic (the vocabulary id window
      // orders by the gram column, long or string) — feed it the stored
      // hash postings directly
      (nWords, bc) => bitsetAllPairs(
        ex.select(col("doc"), col("sz"), col("gh").as("g")),
        freq.select(col("gh").as("g"), col("gdf")), nWords, theta, bc),
      // the stored arrays are ascending-sorted by construction: each pair
      // costs one early-exit GE prefilter and survivors one exact merge
      bc => hashAllPairs(st, col("hashes"), theta, bc)
        .withColumn("jaccard", sortedLongJaccardCol(col("hsa"), col("hsb")))
        .where(col("jaccard") >= theta)
        .select(col("doc_a"), col("doc_b"), col("jaccard")),
      sparse)
  }

  /** The exact verify of the stored-hash Jaccard family: one codegen
    * sorted-long merge per surviving candidate against the stored
    * arrays; output schema matches [[jaccardPairsBy]] (doc_a, doc_b,
    * jaccard) so d2's oracle applies verbatim to the serve. */
  private def verifyJaccardHashes(cands: DataFrame, st: DataFrame,
      theta: Double): DataFrame =
    cands
      .join(st.select(col("doc").as("doc_a"), col("hashes").as("h_a")),
        "doc_a")
      .join(st.select(col("doc").as("doc_b"), col("hashes").as("h_b")),
        "doc_b")
      .withColumn("jaccard", sortedLongJaccardCol(col("h_a"), col("h_b")))
      .where(col("jaccard") >= theta)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
}
