package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Dedup
import graft.queries.Tables.t

/** Deduplication battery over the `documents` table (SURVEY north-star
  * extensions): exact, exact-shingle-Jaccard join, MinHash+LSH, SimHash.
  * The exact variants carry DuckDB oracles; MinHash LSH is verified against
  * the same exact-Jaccard oracle (recall must be total at the chosen
  * band/row configuration — also asserted in DedupSpec), SimHash is
  * rows-only + ScalaTest.
  */
object DedupQueries {

  /** The d7 MinHash signature table's 80%-of-corpus BASE build, once
    * per (JVM, sf dir) — the a6/t11 [[IndexMemo]] discipline. d7's
    * in-query `refreshMinhash` then performs the real incremental
    * delta (the remaining 20%) on first invocation and a no-delta
    * staleness pass after. */
  private[graft] def minhashIndexPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"minhash:$dir") { p =>
      graft.pipeline.SilverIndex.refreshMinhash(
        t(s, dir, "documents")
          .where(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0),
        "doc_id", "text", n = 2, numHashes = 64, path = p)
      ()
    }

  /** The d19 maintained component map (once per JVM + sf dir): the d2
    * near-dup pairs folded as THREE edge batches keyed by
    * pmod(doc_a + doc_b, 3), so component merges deliberately span
    * batches — the contracted-graph fold is load-bearing every battery
    * run, not just in the spec. The pair frame is checkpointed once
    * (the three batch filters must not re-run the shingle join). */
  private[graft] def componentsIndexPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"components:$dir") { p =>
      import org.apache.spark.sql.functions._
      val pairs = Dedup.jaccardPairs(t(s, dir, "documents"),
          "doc_id", "text", n = 2, theta = 0.5, reuseSets = true)
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint(true)
      (0L to 2L).foreach { b =>
        graft.pipeline.SilverIndex.refreshComponents(
          pairs.where(pmod(col("doc_a") + col("doc_b"), lit(3L)) === b),
          batchId = b, aCol = "doc_a", bCol = "doc_b", path = p)
      }
    }

  /** The d18 variant-key table, built by TWO incremental refreshes (the
    * m9 gate discipline: every battery run exercises delta ≡ scratch,
    * not only the spec) — even custkeys first, then the full table so
    * the second refresh appends exactly the odd half. */
  private[graft] def d18Path(s: SparkSession, dir: String): String =
    IndexMemo.path(s"d18edit:$dir") { p =>
      val cust = t(s, dir, "customer")
      graft.pipeline.SilverIndex.refreshEditIndex(
        cust.where(org.apache.spark.sql.functions.col("c_custkey")
          % 2 === 0),
        "c_custkey", "c_name", maxDist = 1, path = p)
      graft.pipeline.SilverIndex.refreshEditIndex(
        cust, "c_custkey", "c_name", maxDist = 1, path = p)
      ()
    }

  /** The d20 per-doc shingle-hash table, built by TWO incremental
    * refreshes (the d18/m9 gate discipline: every battery run
    * exercises delta ≡ scratch, not only the spec) — even doc ids
    * first, then the full corpus so the second refresh appends exactly
    * the odd half. */
  private[graft] def d20Path(s: SparkSession, dir: String): String =
    IndexMemo.path(s"d20containment:$dir") { p =>
      val docs = t(s, dir, "documents")
      graft.pipeline.SilverIndex.refreshContainmentIndex(
        docs.where(org.apache.spark.sql.functions.col("doc_id")
          % 2 === 0),
        "doc_id", "text", n = 3, path = p)
      graft.pipeline.SilverIndex.refreshContainmentIndex(
        docs, "doc_id", "text", n = 3, path = p)
      ()
    }

  /** The d22 shingle-hash table at n = 2 (d2/d13's width; the d20
    * artifact is n = 3 to match d14 — one index per build width, the
    * n-probe discipline), built by the same TWO incremental refreshes
    * so every battery run exercises delta ≡ scratch. */
  private[graft] def d22Path(s: SparkSession, dir: String): String =
    IndexMemo.path(s"d22jaccard:$dir") { p =>
      val docs = t(s, dir, "documents")
      graft.pipeline.SilverIndex.refreshContainmentIndex(
        docs.where(org.apache.spark.sql.functions.col("doc_id")
          % 2 === 0),
        "doc_id", "text", n = 2, path = p)
      graft.pipeline.SilverIndex.refreshContainmentIndex(
        docs, "doc_id", "text", n = 2, path = p)
      ()
    }

  /** The d24 shingle-hash table over char 4-grams (d6's width/kind) —
    * the kind-tagged face of the same artifact, built by the same TWO
    * incremental refreshes. */
  private[graft] def d24Path(s: SparkSession, dir: String): String =
    IndexMemo.path(s"d24charjaccard:$dir") { p =>
      val docs = t(s, dir, "documents")
      graft.pipeline.SilverIndex.refreshContainmentIndex(
        docs.where(org.apache.spark.sql.functions.col("doc_id")
          % 2 === 0),
        "doc_id", "text", n = 4, path = p, kind = "char")
      graft.pipeline.SilverIndex.refreshContainmentIndex(
        docs, "doc_id", "text", n = 4, path = p, kind = "char")
      ()
    }

  /** The d25 simhash signature table (d4's shingle width), built by
    * the same TWO incremental refreshes. */
  private[graft] def d25Path(s: SparkSession, dir: String): String =
    IndexMemo.path(s"d25simhash:$dir") { p =>
      val docs = t(s, dir, "documents")
      graft.pipeline.SilverIndex.refreshSimhashIndex(
        docs.where(org.apache.spark.sql.functions.col("doc_id")
          % 2 === 0),
        "doc_id", "text", shingleN = 2, path = p)
      graft.pipeline.SilverIndex.refreshSimhashIndex(
        docs, "doc_id", "text", shingleN = 2, path = p)
      ()
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id")),

    "d2_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", n = 2,
        theta = 0.5, reuseSets = true)),

    "d3_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 2, numHashes = 64, rowsPerBand = 4, theta = 0.5)),

    // d14 (r13): asymmetric CONTAINMENT pairs — the quoted-inside
    // criterion symmetric Jaccard misses (C = |A∩B|/|A| over 3-gram
    // sets). Asymmetric prefix filter for candidates, exact set
    // intersection for verification; int/int ratio -> exact oracle.
    "d14_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, theta = 0.5)),

    "d4_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxDist = 7, shingleN = 2)),

    "d6_char_jaccard" -> ((s, dir) =>
      Dedup.charJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        q = 4, theta = 0.5)),

    // Incremental-maintenance path end-to-end THROUGH the oracle: build
    // the persisted signature table from 80% of the corpus, delta-refresh
    // with the full corpus (signatures compute only for the remaining
    // 20% — SilverIndexSpec pins the append counts), then band the STORED
    // signatures. Output must be row-identical to d3's from-scratch run,
    // so the same exact-Jaccard oracle applies verbatim.
    // Transitive near-dup clustering: exact-Jaccard pairs (d2's
    // generator) → large-star/small-star connected components → every
    // document with its component root and a one-survivor-per-cluster
    // flag. The DuckDB oracle recomputes the closure with a recursive
    // CTE — a genuinely independent formulation of the same fixpoint.
    "d8_components" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 2,
        theta = 0.5, reuseSets = true)
      graft.operators.Components.nearDupComponents(docs, "doc_id", pairs)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("component"),
          (org.apache.spark.sql.functions.col("doc_id") ===
            org.apache.spark.sql.functions.col("component"))
            .cast("long").as("survivor"))
    }),

    // Exact-substring dedup (Lee et al. 2021): maximal verbatim shared
    // spans >= 13 word tokens across docs, by the distributed
    // seed-and-extend formulation (Dedup.sharedSpans). Two deterministic
    // duplication sources, identical in both engines: every 7th doc
    // carries a group-keyed 13+2*(g%3)-token span, g = doc_id%29 — 29
    // groups keep the planted pair count output-sane at every scale
    // (same-group pairs share exactly that span, the c10 discipline),
    // and the corpus's own planted near-dups (doc 100k-1 vs its
    // one-word-changed successor) share their long natural runs.
    // Integer positions/lengths -> hash-exact oracle.
    "d10_substring_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val g = org.apache.spark.sql.functions.col("doc_id") % 29
      val span = org.apache.spark.sql.functions.array_join(
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.sequence(
            org.apache.spark.sql.functions.lit(1),
            org.apache.spark.sql.functions.lit(13) + (g % 3) * 2),
          p => org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("dupg"), g,
            org.apache.spark.sql.functions.lit("w"), p)), " ")
      val embedded = docs.select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.col("doc_id") % 7 === 0,
            org.apache.spark.sql.functions.concat(
              org.apache.spark.sql.functions.col("text"),
              org.apache.spark.sql.functions.lit(" "), span))
          .otherwise(org.apache.spark.sql.functions.col("text"))
          .as("text"))
      Dedup.sharedSpans(embedded, "doc_id", "text", minLen = 13)
        .select(
          org.apache.spark.sql.functions.col("doc_a"),
          org.apache.spark.sql.functions.col("doc_b"),
          org.apache.spark.sql.functions.col("start_a").cast("long")
            .as("start_a"),
          org.apache.spark.sql.functions.col("start_b").cast("long")
            .as("start_b"),
          org.apache.spark.sql.functions.col("span_len"))
    }),

    // The REMOVAL action over d10's spans (Lee et al.'s actual dedup
    // step): the same embedded-span corpus, every doc_b occurrence of
    // a reported span cut at token granularity, min-id occurrence
    // canonical. Pure integer/string surgery -> hash-exact oracle.
    "d11_span_removal" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val g = org.apache.spark.sql.functions.col("doc_id") % 29
      val span = org.apache.spark.sql.functions.array_join(
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.sequence(
            org.apache.spark.sql.functions.lit(1),
            org.apache.spark.sql.functions.lit(13) + (g % 3) * 2),
          p => org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("dupg"), g,
            org.apache.spark.sql.functions.lit("w"), p)), " ")
      // NULL text coalesces to '' BEFORE the surgery (the t12
      // discipline) — both engines then agree on ('' , 0) for the
      // null-bearing rows instead of one producing SQL NULL
      val base = org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.lit(""))
      val embedded = docs.select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.col("doc_id") % 7 === 0,
            org.apache.spark.sql.functions.concat(base,
              org.apache.spark.sql.functions.lit(" "), span))
          .otherwise(base)
          .as("text"))
      Dedup.removeSharedSpans(embedded, "doc_id", "text", minLen = 13)
    }),

    // Corpus-level repeated-unit removal (the MassiveText/RefinedWeb
    // line-dedup stage; units here are the c4 chunker's disjoint
    // 10-token chunks since the synthetic corpus has no newlines):
    // every chunk appearing verbatim in MORE THAN ONE document is
    // boilerplate and removed from ALL docs; survivors reassemble in
    // chunk order. The corpus's planted exact/near duplicates make the
    // removal non-trivial (a full-duplicate doc empties entirely).
    "d12_unit_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val units = graft.operators.Packing.chunkTokens(docs, "doc_id",
        "text", chunkSize = 10, overlap = 0)
      val kept = graft.operators.Dedup.dropRepeatedUnits(units, "doc_id",
        "chunk_text", maxDocFreq = 1)
      val reassembled = kept.groupBy(org.apache.spark.sql.functions.col("doc_id"))
        .agg(
          org.apache.spark.sql.functions.array_join(
            org.apache.spark.sql.functions.transform(
              org.apache.spark.sql.functions.array_sort(
                org.apache.spark.sql.functions.collect_list(
                  org.apache.spark.sql.functions.struct(
                    org.apache.spark.sql.functions.col("chunk_id"),
                    org.apache.spark.sql.functions.col("chunk_text")))),
              s => s.getField("chunk_text")), " ").as("text_clean"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("__n_kept"))
      val totals = units.groupBy(org.apache.spark.sql.functions.col("doc_id"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("__n_units"))
      docs.select(org.apache.spark.sql.functions.col("doc_id"))
        .join(totals, Seq("doc_id"), "left")
        .join(reassembled, Seq("doc_id"), "left")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.col("text_clean"),
            org.apache.spark.sql.functions.lit("")).as("text_clean"),
          (org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.col("__n_units"),
              org.apache.spark.sql.functions.lit(0L)) -
            org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.col("__n_kept"),
              org.apache.spark.sql.functions.lit(0L)))
            .cast("long").as("n_dropped_units"))
    }),

    // Quality-aware canonical selection (the production dedup shape):
    // d8's exact-Jaccard clusters, but the survivor per cluster is the
    // BEST document — most words, then least punctuation-noisy, then
    // lowest doc_id — not the arbitrary min-id root. Integer n_words +
    // engine-exact punct_ratio (the t2 int/int division) keep the
    // argmax deterministic in both engines; the DuckDB oracle re-derives
    // the closure with its own recursive CTE and picks via row_number.
    "d13_quality_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 2,
        theta = 0.5, reuseSets = true)
      val withQ = docs
        .select(col("doc_id"),
          graft.functions.TextFunctions.qualityMetrics(col("text")).as("m"))
        .select(col("doc_id"), col("m.n_words").as("n_words"),
          col("m.punct_ratio").as("punct_ratio"))
      Dedup.keepBestPerCluster(withQ, "doc_id", pairs,
        Seq(col("n_words"), -col("punct_ratio"), -col("doc_id")))
        .select(col("doc_id"), col("component"), col("cluster_size"),
          col("n_words").cast("long").as("n_words"), col("keep"))
    }),

    // d15 (r14): the containment ACTION — d14's asymmetric pairs fed
    // through the d8 closure and the d13 quality argmax, so a short
    // doc quoted nearly verbatim inside a longer one JOINS the long
    // doc's cluster and loses the canonical-selection vote (n_words
    // first): quote-farm/boilerplate dedup end-to-end, not just pair
    // detection. All three stages are individually oracle-proven; the
    // composed DuckDB oracle chains their CTEs.
    "d15_containment_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val pairs = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, theta = 0.5)
      val withQ = docs
        .select(col("doc_id"),
          graft.functions.TextFunctions.qualityMetrics(col("text")).as("m"))
        .select(col("doc_id"), col("m.n_words").as("n_words"),
          col("m.punct_ratio").as("punct_ratio"))
      Dedup.keepBestPerCluster(withQ, "doc_id", pairs,
        Seq(col("n_words"), -col("punct_ratio"), -col("doc_id")),
        aCol = "doc_small", bCol = "doc_big")
        .select(col("doc_id"), col("component"), col("cluster_size"),
          col("n_words").cast("long").as("n_words"), col("keep"))
    }),

    // d16 (r14): per-SOURCE duplication diagnostics — the curation
    // report that turns pair detection into a source-quality ranking:
    // per registered domain (t19's construction — the doc's first
    // URL's host), how many docs, how many participate in ≥ 1
    // exact-Jaccard near-dup pair, and the rate. The dup-member side
    // is pair-graph-sized — which in exactly the heavy-duplication
    // regime this diagnostic exists for is a corpus FRACTION, not a
    // dimension — so no broadcast hint: AQE picks broadcast from the
    // runtime size when it fits and falls back to a shuffled join when
    // it doesn't (r15, verdict #2). Integer counts + one round-6
    // division -> exact oracle composing d2 pair CTEs with t8
    // extraction.
    // d17 (r16): EDIT-DISTANCE pairs over short keys via symmetric-
    // delete blocking (SymSpell) — the entity-resolution question the
    // token/shingle family cannot ask ("Analyst II" vs "Analyst III"
    // is an EDIT, not a token, difference), and the one the reference
    // answers with an all-pairs rapidfuzz cdist. Deletion-neighborhood
    // candidates join on 8-byte xxhash64 keys, one exact levenshtein
    // verifies INSIDE the join (the hammingPairs lesson) — never
    // all-pairs. Customer names: ids differing in one digit land at
    // dist 1; integer-exact output, brute-force oracle.
    "d17_edit_pairs" -> ((s, dir) =>
      graft.operators.Dedup.editPairs(
        t(s, dir, "customer"), "c_custkey", "c_name", maxDist = 1)),

    // d18 (r17): d17's pairs SERVED FROM THE PERSISTED variant-key
    // index (VERDICT r16 task 3 — the one r16 operator below the
    // codebase's maintenance standard): the deletion neighborhood is
    // per-row deterministic, so the stored (doc, str, vk) table
    // refreshes by id-anti-join append with delta ≡ scratch EXACTLY,
    // and the weekly run pays the candidate join + in-join levenshtein
    // only — zero neighborhood recompute. The gate builds the index by
    // two incremental refreshes (even keys, then all) so maintained ≡
    // scratch runs every battery; d17's brute-force oracle applies
    // VERBATIM. Streaming face: SilverIndex.editPairsBatch (the s6
    // exactly-once pair contract); erase face: eraseEditIndex (p6).
    "d18_edit_index" -> ((s, dir) =>
      graft.pipeline.SilverIndex.editPairsFromIndex(
        s, d18Path(s, dir), maxDist = 1)),

    // d19 (r18): the d8 component map INCREMENTALLY MAINTAINED — the
    // transitive-closure face a continuously-fed dedup pipeline runs:
    // component merge is monotone (root = member min, min is
    // associative), so each batch of near-dup pairs contracts to the
    // stored roots, closes the batch-sized contracted graph, and
    // remaps — the pair log is never rescanned (SilverIndex
    // .refreshComponents, the refreshMaxRollup commit family). The
    // gate folds the SAME d2 pairs d8 closes one-shot, as three
    // edge batches (pmod(doc_a + doc_b, 3) — merges deliberately SPAN
    // batches), so maintained ≡ scratch runs every battery and d8's
    // recursive-CTE oracle applies VERBATIM.
    // d20 (r19): d14's pairs SERVED FROM THE PERSISTED shingle-hash
    // index (VERDICT r18 task 2 — the last pair family recomputing
    // per-doc state per audit): the (doc, sz, sorted distinct xxhash64
    // grams) row is a pure function of the text, so the stored table
    // refreshes by id-anti-join append with delta ≡ scratch EXACTLY,
    // and the weekly audit pays the posting explode + rarity ranking +
    // candidate join + array-intersect verify over 8-byte stored
    // hashes only — zero text read, zero shingling recompute. The
    // rarest-prefix is deliberately NOT stored (rarity is corpus-wide,
    // the d18 serve-time-valve stance; output is prefix-choice-
    // independent by the lossless bound), which also makes the
    // artifact THETA-FREE. The gate builds the index by two
    // incremental refreshes (even doc ids, then all) so maintained ≡
    // scratch runs every battery; d14's brute-force oracle applies
    // VERBATIM. Streaming face: SilverIndex.containmentPairsBatch
    // (the s6 exactly-once pair contract); erase face:
    // eraseContainmentIndex (p6).
    "d20_containment_index" -> ((s, dir) =>
      graft.pipeline.SilverIndex.containmentPairsFromIndex(
        s, d20Path(s, dir), n = 3, theta = 0.5)),

    // d21 (r19): the containment ACTION served from the PERSISTED
    // artifact — d15's semantics with the expensive half (pair
    // detection) paying zero text read / zero shingling at audit time:
    // pairs come from the d20 shingle-hash index (serve ≡ d14 exactly,
    // proven by d20's oracle), then the d8 closure and the d13 quality
    // argmax as in d15. The quality columns still read the corpus once
    // (n_words/punct are text properties the survivor vote needs) —
    // that scan is output-column-pruned and unavoidable for the vote,
    // while the quadratic-risk stage runs entirely on stored 8-byte
    // hashes. d15's composed DuckDB oracle applies VERBATIM.
    "d21_containment_served" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val pairs = graft.pipeline.SilverIndex.containmentPairsFromIndex(
        s, d20Path(s, dir), n = 3, theta = 0.5)
      val withQ = docs
        .select(col("doc_id"),
          graft.functions.TextFunctions.qualityMetrics(col("text")).as("m"))
        .select(col("doc_id"), col("m.n_words").as("n_words"),
          col("m.punct_ratio").as("punct_ratio"))
      Dedup.keepBestPerCluster(withQ, "doc_id", pairs,
        Seq(col("n_words"), -col("punct_ratio"), -col("doc_id")),
        aCol = "doc_small", bCol = "doc_big")
        .select(col("doc_id"), col("component"), col("cluster_size"),
          col("n_words").cast("long").as("n_words"), col("keep"))
    }),

    // d25 (r19): simhash Hamming pairs served from the PERSISTED
    // signature table — d4's maintained face, closing the last pair
    // family that recomputed per-doc state per audit. The artifact is
    // DISTANCE-FREE (the theta-free stance's Hamming sibling): the
    // stored row is just (doc, 64-bit signature); maxDist and the
    // pigeonhole chunking it sizes are serve-time choices, so one
    // index answers any audit radius. Serve ≡ scratch row-for-row —
    // the gate pins d4's golden content hash VERBATIM (the a14 ≡ a12
    // intentionally-equal precedent). Streaming face:
    // SilverIndex.simhashPairsBatch; erase: eraseSimhashIndex.
    "d25_simhash_index" -> ((s, dir) =>
      graft.pipeline.SilverIndex.simhashPairsFromIndex(
        s, d25Path(s, dir), shingleN = 2, maxDist = 7)),

    // d24 (r19): char-q-gram Jaccard served from the kind-tagged
    // shingle artifact — d6's maintained face, and the density-
    // adaptive serve's dense-regime proof: char 4-grams over a small
    // alphabet are exactly the corpus shape whose prefix filter keeps
    // ~all pairs, so jaccardPairsFromStored re-derives the scratch
    // operator's density gate from the STORED postings and dispatches
    // to the all-pairs merge/bitset paths (with the hash/sort stage
    // already paid at refresh time). Serve ≡ scratch row-for-row, so
    // d6's brute-force oracle applies VERBATIM.
    "d24_char_jaccard_index" -> ((s, dir) =>
      graft.pipeline.SilverIndex.jaccardPairsFromIndex(
        s, d24Path(s, dir), n = 4, theta = 0.5, kind = "char")),

    // d22 (r19): symmetric exact-Jaccard pairs served from the
    // PERSISTED shingle-hash artifact — the d2/d13 family's maintained
    // face, and the proof that the stored per-doc rows are
    // CRITERION-FREE: the same artifact shape d20 reads for the
    // asymmetric containment audit serves the symmetric audit at any
    // serve-time θ with zero text read / zero shingling recompute
    // (this entry's index is a second build at n = 2, d2's width).
    // Serve ≡ scratch row-for-row, so d2's brute-force string oracle
    // applies VERBATIM. Streaming face:
    // SilverIndex.jaccardPairsBatch; erase face:
    // eraseContainmentIndex (p6, shared artifact).
    "d22_jaccard_index" -> ((s, dir) =>
      graft.pipeline.SilverIndex.jaccardPairsFromIndex(
        s, d22Path(s, dir), n = 2, theta = 0.5)),

    // d23 (r19): the quality-dedup ACTION served from the persisted
    // artifact — d13's semantics with the quadratic-risk stage (pair
    // detection) running entirely on stored 8-byte hashes (the d21
    // pattern over the symmetric criterion): pairs from the d22 index
    // (≡ d2 exactly, proven by d22's oracle), then the d8 closure and
    // the quality argmax as in d13. The quality columns still read the
    // corpus once (column-pruned — the survivor vote needs them);
    // d13's composed DuckDB oracle applies VERBATIM.
    "d23_quality_served" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val pairs = graft.pipeline.SilverIndex.jaccardPairsFromIndex(
        s, d22Path(s, dir), n = 2, theta = 0.5)
      val withQ = docs
        .select(col("doc_id"),
          graft.functions.TextFunctions.qualityMetrics(col("text")).as("m"))
        .select(col("doc_id"), col("m.n_words").as("n_words"),
          col("m.punct_ratio").as("punct_ratio"))
      Dedup.keepBestPerCluster(withQ, "doc_id", pairs,
        Seq(col("n_words"), -col("punct_ratio"), -col("doc_id")))
        .select(col("doc_id"), col("component"), col("cluster_size"),
          col("n_words").cast("long").as("n_words"), col("keep"))
    }),

    "d19_incr_components" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val ix = graft.pipeline.SilverIndex.componentsIndex(
          s, componentsIndexPath(s, dir))
        .withColumnRenamed("node", "doc_id")
      docs.join(ix, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
        .select(col("doc_id"), col("component"),
          (col("doc_id") === col("component")).cast("long").as("survivor"))
    }),

    "d16_domain_dup_rate" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val embedded = concat(
        col("text"), lit(" see http://site"),
        (col("doc_id") % 20).cast("string"), lit(".example.com/p/"), id,
        lit(" and https://cdn"), (col("doc_id") % 7).cast("string"),
        lit(".example.org/x"))
      val withDomain = docs.select(col("doc_id"),
        regexp_extract(embedded, "https?://([A-Za-z0-9.-]+)", 1)
          .as("domain"))
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 2, theta = 0.5, reuseSets = true)
      val dupDocs = pairs
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
        .withColumn("__dup", lit(1L))
      withDomain.join(dupDocs, Seq("doc_id"), "left")
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("__dup")), lit(0L)).as("n_dup_docs"))
        .withColumn("dup_rate",
          round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
    }),

    "d7_incr_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the 80% base build happens once per (JVM, sf dir) — the a6/t11
      // IndexMemo discipline; the query keeps the steady-state
      // maintenance shape: the full incremental refresh (a real 20%
      // delta on first invocation, a no-delta staleness pass after)
      // plus banding the STORED signatures. Final index content equals
      // a from-scratch build (SilverIndexSpec pins the append counts),
      // so the exact-Jaccard oracle applies verbatim.
      val path = minhashIndexPath(s, dir)
      graft.pipeline.SilverIndex.refreshMinhash(docs, "doc_id", "text",
        n = 2, numHashes = 64, path = path)
      graft.pipeline.SilverIndex.minhashPairs(s, path,
        rowsPerBand = 4, theta = 0.5)
    })
  )

  private[queries] val exactJaccardSql =
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
      |s AS (SELECT doc_id,
      |        list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS sh
      |      FROM d),
      |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
      |      FROM s a, s b WHERE a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin

  private val oracles0: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT text, min(doc_id) AS kept_id, count(*) AS dup_count
        |FROM documents GROUP BY text""".stripMargin,
    "d2_jaccard_pairs" -> exactJaccardSql,

    // brute-force containment over the same distinct 3-gram sets the
    // operator verifies with; smaller side by (size, id)
    "d14_containment" ->
      """WITH d AS (SELECT doc_id,
        |             string_split_regex(trim(text), '\s+') AS ws
        |           FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(ws) - 1),
        |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |      FROM d),
        |z AS (SELECT doc_id, sh, len(sh) AS sz FROM s WHERE len(sh) > 0),
        |p AS (SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
        |        CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT)
        |          AS n_shared,
        |        a.sz AS sza
        |      FROM z a, z b
        |      WHERE (a.sz < b.sz)
        |         OR (a.sz = b.sz AND a.doc_id < b.doc_id))
        |SELECT doc_small, doc_big, n_shared,
        |  CAST(n_shared AS DOUBLE) / sza AS containment
        |FROM p WHERE CAST(n_shared AS DOUBLE) / sza >= 0.5""".stripMargin,
    // LSH with 16 bands × 4 rows: the corpus's near-dups all sit at
    // j ≥ 0.9 (miss probability (1-j⁴)¹⁶ < 1e-8) while the j≈0.025
    // baseline generates ~zero noise candidates — recall is total here
    // (asserted in DedupSpec) so the exact-Jaccard oracle applies
    // verbatim.
    "d3_minhash_lsh" -> exactJaccardSql,
    // d7 = d3 through the persisted-signature path; identical output by
    // construction (SilverIndexSpec), so the same oracle applies.
    "d7_incr_minhash" -> exactJaccardSql,

    // the embedded-span construction verbatim, then the seed-and-extend
    // CTEs: positional 13-grams (1-based DuckDB slices -> 0-based pos),
    // gram self-join, diagonal run-length grouping via pos - row_number
    "d10_substring_spans" ->
      """WITH e AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' ||
        |      array_to_string(list_transform(range(1, 14 + ((doc_id % 29) % 3) * 2),
        |        p -> 'dupg' || CAST(doc_id % 29 AS VARCHAR) || 'w' ||
        |             CAST(p AS VARCHAR)), ' ')
        |    ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |      FROM e),
        |g AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |    array_to_string(ws[i : i + 12], ' ') AS gram
        |  FROM t, unnest(range(1, len(ws) - 11)) AS u(i)
        |  WHERE len(ws) >= 13),
        |s AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.pos AS pos_a, b.pos AS pos_b
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |r AS (
        |  SELECT *, pos_a - row_number() OVER (
        |    PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS grp
        |  FROM s)
        |SELECT doc_a, doc_b,
        |  CAST(min(pos_a) AS BIGINT) AS start_a,
        |  CAST(min(pos_b) AS BIGINT) AS start_b,
        |  CAST(count(*) + 12 AS BIGINT) AS span_len
        |FROM r GROUP BY doc_a, doc_b, pos_a - pos_b, grp""".stripMargin,
    // the d10 seed-and-extend CTEs verbatim, then the removal: per
    // doc_b, the union of its [start_b, start_b+span_len) token
    // intervals cut from the (whitespace-normalized) token sequence;
    // DuckDB list lambdas are 1-based, positions 0-based
    "d11_span_removal" ->
      """WITH e AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN coalesce(text, '') || ' ' ||
        |      array_to_string(list_transform(range(1, 14 + ((doc_id % 29) % 3) * 2),
        |        p -> 'dupg' || CAST(doc_id % 29 AS VARCHAR) || 'w' ||
        |             CAST(p AS VARCHAR)), ' ')
        |    ELSE coalesce(text, '') END AS text
        |  FROM documents),
        |t AS (SELECT doc_id,
        |        CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |             ELSE string_split_regex(trim(text), '\s+') END AS ws
        |      FROM e),
        |g AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |    array_to_string(ws[i : i + 12], ' ') AS gram
        |  FROM t, unnest(range(1, len(ws) - 11)) AS u(i)
        |  WHERE len(ws) >= 13),
        |s AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.pos AS pos_a, b.pos AS pos_b
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |r AS (
        |  SELECT *, pos_a - row_number() OVER (
        |    PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS grp
        |  FROM s),
        |spans AS (
        |  SELECT doc_b,
        |    CAST(min(pos_b) AS BIGINT) AS start_b,
        |    CAST(count(*) + 12 AS BIGINT) AS span_len
        |  FROM r GROUP BY doc_a, doc_b, pos_a - pos_b, grp),
        |cuts AS (
        |  SELECT doc_b AS doc_id,
        |    list(list_value(start_b, span_len)) AS ivs
        |  FROM spans GROUP BY doc_b),
        |k AS (
        |  SELECT t.doc_id, t.ws,
        |    list_filter(t.ws, (x, i) -> coalesce(
        |      len(list_filter(c.ivs, iv ->
        |        i - 1 >= iv[1] AND i - 1 < iv[1] + iv[2])), 0) = 0) AS kept
        |  FROM t LEFT JOIN cuts c ON t.doc_id = c.doc_id)
        |SELECT doc_id,
        |  coalesce(array_to_string(kept, ' '), '') AS text_clean,
        |  CAST(len(ws) - len(kept) AS BIGINT) AS n_removed_tokens
        |FROM k""".stripMargin,

    // the c4 chunker CTEs at size 10 / overlap 0, a doc-frequency
    // ceiling on the chunk text, order-preserving reassembly
    "d12_unit_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (
        |  SELECT doc_id,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY s.i) - 1
        |           AS chunk_id,
        |         array_to_string(ws[s.i + 1 : s.i + 10], ' ') AS chunk_text
        |  FROM d, LATERAL (SELECT unnest(range(0, greatest(len(ws), 1), 10)) AS i) s),
        |hot AS (
        |  SELECT chunk_text FROM c GROUP BY chunk_text
        |  HAVING count(DISTINCT doc_id) > 1),
        |k AS (SELECT * FROM c
        |      WHERE chunk_text NOT IN (SELECT chunk_text FROM hot)),
        |r AS (
        |  SELECT doc_id,
        |    array_to_string(list(chunk_text ORDER BY chunk_id), ' ')
        |      AS text_clean,
        |    count(*) AS n_kept
        |  FROM k GROUP BY doc_id),
        |t AS (SELECT doc_id, count(*) AS n_units FROM c GROUP BY doc_id)
        |SELECT dd.doc_id,
        |  coalesce(r.text_clean, '') AS text_clean,
        |  CAST(coalesce(t.n_units, 0) - coalesce(r.n_kept, 0) AS BIGINT)
        |    AS n_dropped_units
        |FROM documents dd
        |LEFT JOIN t ON dd.doc_id = t.doc_id
        |LEFT JOIN r ON dd.doc_id = r.doc_id""".stripMargin,

    // d8: the exact-Jaccard pair CTEs verbatim, then an independent
    // transitive closure — reachability as a recursive CTE, component =
    // min reachable node (UNION dedups, so the recursion terminates at
    // the closure fixpoint).
    "d8_components" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS sh
        |      FROM d),
        |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
        |      FROM s a, s b WHERE a.doc_id < b.doc_id),
        |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM p
        |      UNION ALL SELECT doc_b AS u, doc_a AS v FROM p),
        |reach(node, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT reach.node, e.v FROM reach JOIN e ON reach.r = e.u)
        |SELECT node AS doc_id, min(r) AS component,
        |       CAST(min(r) = node AS BIGINT) AS survivor
        |FROM reach GROUP BY node""".stripMargin,

    // d13: the d8 closure CTEs verbatim, the t2 quality CTE, then an
    // independent per-cluster argmax via row_number (n_words DESC,
    // punct_ratio ASC, doc_id ASC); keep = rn 1.
    "d13_quality_dedup" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS sh
        |      FROM d),
        |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
        |      FROM s a, s b WHERE a.doc_id < b.doc_id),
        |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM p
        |      UNION ALL SELECT doc_b AS u, doc_a AS v FROM p),
        |reach(node, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT reach.node, e.v FROM reach JOIN e ON reach.r = e.u),
        |comp AS (SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node),
        |q AS (SELECT doc_id,
        |        CASE WHEN length(trim(text)) = 0 THEN 0
        |             ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
        |        CASE WHEN length(text) = 0 THEN 0.0
        |             ELSE CAST(len(regexp_extract_all(text, '[!"#$%&''()*+,\-./:;<=>?@\[\\\]^_`{|}~]')) AS DOUBLE) /
        |                  CAST(length(text) AS DOUBLE) END AS punct_ratio
        |      FROM documents),
        |r2 AS (SELECT comp.doc_id, comp.component, q.n_words, q.punct_ratio,
        |        row_number() OVER (PARTITION BY comp.component
        |          ORDER BY q.n_words DESC, q.punct_ratio ASC, comp.doc_id ASC) AS rn,
        |        count(*) OVER (PARTITION BY comp.component) AS cluster_size
        |      FROM comp JOIN q ON comp.doc_id = q.doc_id)
        |SELECT doc_id, component, cluster_size,
        |       CAST(n_words AS BIGINT) AS n_words,
        |       CAST(rn = 1 AS BIGINT) AS keep
        |FROM r2""".stripMargin,

    // d16: the d2 exact-Jaccard pair CTEs, distinct pair members, the
    // t8 domain extraction, then per-domain counts + round-6 rate
    // brute force IS the oracle here (1500 names at sf0.01) — the
    // operator's blocking must be lossless against it
    "d17_edit_pairs" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS name FROM customer
        |           WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       a.name AS str_a, b.name AS str_b,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM c a JOIN c b ON a.id < b.id
        |WHERE levenshtein(a.name, b.name) <= 1""".stripMargin,

    "d16_domain_dup_rate" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS sh
        |      FROM d),
        |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
        |      FROM s a, s b WHERE a.doc_id < b.doc_id),
        |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
        |dup AS (SELECT DISTINCT doc_id FROM (
        |  SELECT doc_a AS doc_id FROM p
        |  UNION ALL SELECT doc_b AS doc_id FROM p)),
        |dom AS (
        |  SELECT doc_id,
        |    regexp_extract(
        |      text || ' see http://site' || CAST(doc_id % 20 AS VARCHAR)
        |           || '.example.com/p/' || CAST(doc_id AS VARCHAR)
        |           || ' and https://cdn' || CAST(doc_id % 7 AS VARCHAR)
        |           || '.example.org/x',
        |      'https?://([A-Za-z0-9.-]+)', 1) AS domain
        |  FROM documents)
        |SELECT domain,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(dup.doc_id) AS BIGINT) AS n_dup_docs,
        |  round(CAST(count(dup.doc_id) AS DOUBLE) / count(*), 6) AS dup_rate
        |FROM dom LEFT JOIN dup ON dom.doc_id = dup.doc_id
        |GROUP BY domain""".stripMargin,

    // d15: d14's brute-force containment CTEs (the pair stage), the d8
    // recursive closure, and the d13 quality argmax — each proven
    // independently, composed verbatim here.
    "d15_containment_dedup" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id,
        |        string_split_regex(trim(text), '\s+') AS ws
        |      FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(ws) - 1),
        |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |      FROM d),
        |z AS (SELECT doc_id, sh, len(sh) AS sz FROM s WHERE len(sh) > 0),
        |p0 AS (SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
        |        CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT)
        |          AS n_shared,
        |        a.sz AS sza
        |      FROM z a, z b
        |      WHERE (a.sz < b.sz)
        |         OR (a.sz = b.sz AND a.doc_id < b.doc_id)),
        |p AS (SELECT doc_small AS doc_a, doc_big AS doc_b FROM p0
        |      WHERE CAST(n_shared AS DOUBLE) / sza >= 0.5),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM p
        |      UNION ALL SELECT doc_b AS u, doc_a AS v FROM p),
        |reach(node, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT reach.node, e.v FROM reach JOIN e ON reach.r = e.u),
        |comp AS (SELECT node AS doc_id, min(r) AS component
        |         FROM reach GROUP BY node),
        |q AS (SELECT doc_id,
        |        CASE WHEN length(trim(text)) = 0 THEN 0
        |             ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
        |        CASE WHEN length(text) = 0 THEN 0.0
        |             ELSE CAST(len(regexp_extract_all(text, '[!"#$%&''()*+,\-./:;<=>?@\[\\\]^_`{|}~]')) AS DOUBLE) /
        |                  CAST(length(text) AS DOUBLE) END AS punct_ratio
        |      FROM documents),
        |r2 AS (SELECT comp.doc_id, comp.component, q.n_words, q.punct_ratio,
        |        row_number() OVER (PARTITION BY comp.component
        |          ORDER BY q.n_words DESC, q.punct_ratio ASC, comp.doc_id ASC) AS rn,
        |        count(*) OVER (PARTITION BY comp.component) AS cluster_size
        |      FROM comp JOIN q ON comp.doc_id = q.doc_id)
        |SELECT doc_id, component, cluster_size,
        |       CAST(n_words AS BIGINT) AS n_words,
        |       CAST(rn = 1 AS BIGINT) AS keep
        |FROM r2""".stripMargin,

    // d4_simhash_pairs: rows-only (no SQL-expressible oracle)

    "d6_char_jaccard" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, length(text) - 2),
        |      i -> substring(text, CAST(i AS INT), 4))) AS sh
        |  FROM documents WHERE length(text) >= 4),
        |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
        |      FROM s a, s b WHERE a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin
  )

  // the index-served pairs must equal the scratch operator exactly —
  // d17's brute-force oracle applies verbatim (the m9 discipline);
  // likewise the maintained component map must equal the one-shot
  // closure, so d8's recursive-CTE oracle applies verbatim to d19
  val oracles: Map[String, String] = oracles0 +
    ("d18_edit_index" -> oracles0("d17_edit_pairs")) +
    ("d19_incr_components" -> oracles0("d8_components")) +
    // the index-served containment pairs must equal the scratch
    // operator exactly — d14's brute-force oracle applies verbatim
    ("d20_containment_index" -> oracles0("d14_containment")) +
    // the composed action over index-served pairs must equal the
    // scratch composition — d15's chained oracle applies verbatim
    ("d21_containment_served" -> oracles0("d15_containment_dedup")) +
    // the index-served symmetric pairs must equal the scratch operator
    // exactly — d2's brute-force oracle applies verbatim
    ("d22_jaccard_index" -> oracles0("d2_jaccard_pairs")) +
    // the quality action over index-served pairs ≡ the scratch
    // composition — d13's chained oracle applies verbatim
    ("d23_quality_served" -> oracles0("d13_quality_dedup")) +
    // the index-served char-gram pairs must equal the scratch dense
    // operator exactly — d6's brute-force oracle applies verbatim
    ("d24_char_jaccard_index" -> oracles0("d6_char_jaccard"))
}
