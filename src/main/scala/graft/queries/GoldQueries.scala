package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Blocking, SimilarityJoin, SimilarityJoinConfig}
import graft.queries.Tables.t

/** The reference's flagship GOLD flow, end to end and oracle-checked:
  * similarity join (J1) + salary-band theta predicate (P6) + per-left
  * top-k (A3/W2) + join-output row assembly (J3) + gold projection/rename
  * (S10, sql/cleaned.sql:2-15) and the group-by-MAX unique variant
  * (sql/cleaned.sql:28-42). Scoring uses normalized Levenshtein so DuckDB
  * can replay it bit-for-bit — the WRatio flavor of the same machinery is
  * covered by j2 + ScalaTest golden pairs. */
object GoldQueries {

  /** Fuzzy match `part` against itself as postings↔payroll (the testdata
    * has no payroll table; part carries a name + a money column, which is
    * all the flow needs). The postings side is a 1-in-50 sample: the
    * reference's flow is a SMALL postings table against a large payroll
    * (≈5k × 600k), and the testdata's 64-name key space would otherwise
    * make the row join-back quadratic in rows-per-name. */
  private def matches(s: SparkSession, dir: String): DataFrame = {
    val postings = t(s, dir, "part")
      .where(col("p_partkey") % 50 === 0)
      .select(
        col("p_partkey").as("posting_id"),
        col("p_name").as("business_title"),
        col("p_retailprice").as("posting_mid_salary"))
    val payroll = t(s, dir, "part").select(
      col("p_partkey").as("payroll_id"),
      col("p_name").as("title_description"),
      col("p_retailprice").as("base_salary"))
    val cfg = SimilarityJoinConfig(
      leftKey = "business_title", rightKey = "title_description",
      preScorer = FuzzyQueries.levSim, preThreshold = 60.0,
      scorer = FuzzyQueries.levSim, scoreThreshold = 60.0,
      blocking = Blocking.Exact, normalize = false,
      // P6 salary band (±10%) + no self-matches
      extraPredicate = Some(
        col("base_salary") >= col("posting_mid_salary") * 0.9 &&
        col("base_salary") <= col("posting_mid_salary") * 1.1 &&
        col("posting_id") =!= col("payroll_id")),
      topKPerLeft = Some(3),
      topKTieBreak = Seq(col("payroll_id").asc))
    SimilarityJoin(postings, payroll, cfg)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // GOLD.nyc_salary_matches shape: projection/rename over the match
    // output (the ORDER BY in the reference CTAS is cosmetic storage
    // order; the serving layer re-sorts — SURVEY §2.6 O1)
    "g1_gold_matches" -> ((s, dir) =>
      matches(s, dir).select(
        col("business_title").as("posted_job_title"),
        col("title_description").as("matched_actual_payroll_title"),
        floor(col("score")).cast("int").as("match_score"),
        col("posting_mid_salary"),
        col("base_salary").as("actual_base_salary"),
        col("posting_id"), col("payroll_id"))),

    // GOLD.…_unique_job_posting_title shape: one row per posted title via
    // MAX over every carried column (incl. the computed score)
    "g2_gold_unique" -> ((s, dir) =>
      matches(s, dir)
        .groupBy(col("business_title").as("posted_job_title"))
        .agg(
          max(col("title_description")).as("matched_actual_payroll_title"),
          max(floor(col("score")).cast("int")).as("match_score"),
          max(col("posting_mid_salary")).as("posting_mid_salary"),
          max(col("base_salary")).as("actual_base_salary"))),

    // g3 (r16): the SAME gold table maintained INCREMENTALLY — the
    // reference's weekly chain recomputes the unique-title CTAS from
    // all of bronze every Sunday (src/cleaned_data.py:16-46); at
    // 100 TB the re-aggregation, not the first build, is the dominant
    // recurring cost. Here the match output arrives as three "weekly"
    // batches (posting_id % 3 — titles deliberately SPAN batches, so
    // the merge is load-bearing) folded into a persisted rollup via
    // SilverIndex.refreshMaxRollup: per-batch partial MAXes merge with
    // the output-sized stored table under the stage-then-rename
    // commit; bronze is never rescanned. MAX is a semilattice, so the
    // maintained table equals the one-shot GROUP BY exactly — g2's
    // oracle applies VERBATIM. (GoldIncrementalSpec adds chunking-fuzz
    // ≡ batch, replay no-op, semilattice re-fold identity, and the
    // crash-window recovery.)
    "g3_incremental_gold" -> ((s, dir) => {
      val p = IndexMemo.path(s"goldrollup:$dir") { path =>
        // the three per-batch folds below each filter THIS frame — an
        // eager checkpoint runs the similarity join once per build, not
        // once per fold (r19 optimization, guide §1.2 "don't compute
        // things twice"; the folded rows are identical either way)
        val m = matches(s, dir).select(
          col("business_title").as("posted_job_title"),
          col("title_description").as("matched_actual_payroll_title"),
          floor(col("score")).cast("int").as("match_score"),
          col("posting_mid_salary"),
          col("base_salary").as("actual_base_salary"),
          col("posting_id")).localCheckpoint(true)
        (0L to 2L).foreach { b =>
          graft.pipeline.SilverIndex.refreshMaxRollup(
            m.where(pmod(col("posting_id"), lit(3)) === b)
              .drop("posting_id"),
            batchId = b, keyCols = Seq("posted_job_title"),
            maxCols = Seq("matched_actual_payroll_title", "match_score",
              "posting_mid_salary", "actual_base_salary"),
            path = path)
        }
      }
      graft.pipeline.SilverIndex.maxRollupIndex(s, p)
        .select(col("posted_job_title"),
          col("matched_actual_payroll_title"), col("match_score"),
          col("posting_mid_salary"), col("actual_base_salary"))
    }),

    // g4 (r16): SCD TYPE-2 HISTORY — effective-dated attribute versions
    // over the events change log ("what state did this key hold at
    // time T?" — the audit question a latest-state-only gold layer
    // cannot answer). Consecutive identical states collapse; versions
    // carry half-open [effective_from, effective_to) ranges; equal-ts
    // arrivals order deterministically by the attribute tie-break in
    // BOTH engines, making the row set oracle-exact. NULL attributes
    // are filtered HERE (engines disagree on NULL sort order within
    // equal timestamps); the operator itself is null-safe and
    // Scd2Spec covers NULL-state transitions.
    "g4_scd2_history" -> ((s, dir) =>
      graft.operators.Scd2.history(
        t(s, dir, "events").where(col("event_type").isNotNull),
        "user_id", Seq("event_type"), "ts")
      .select(col("user_id"), col("event_type"), col("effective_from"),
        col("effective_to"), col("is_current"))),

    // g5 (r16): CDC MERGE APPLY — the next snapshot from a change log
    // (the reference re-fetches FULL weekly snapshots; at 100 TB the
    // feed is a change log and the snapshot is maintained). Changes
    // synthesized from lineitem against the orders base: op from the
    // line number, last-writer-wins per order key by ship date with
    // the deterministic (op, attrs) tie-break; a last-op D deletes,
    // I/U upsert, untouched keys pass through. NULL attr rows filtered
    // in the GATE (engines disagree on NULL sort order inside the
    // tie-break; the operator itself tolerates them).
    "g5_cdc_apply" -> ((s, dir) => {
      val base = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("total"))
      val changes = t(s, dir, "lineitem")
        .where(col("l_returnflag").isNotNull &&
          col("l_extendedprice").isNotNull)
        .select(col("l_orderkey").as("k"),
          when(col("l_linenumber") % 3 === 0, "D")
            .when(col("l_linenumber") % 3 === 1, "U")
            .otherwise("I").as("op"),
          col("l_shipdate").as("ts"),
          col("l_returnflag").as("status"),
          col("l_extendedprice").as("total"))
      graft.operators.Cdc.applyChanges(base, changes, "k", "op", "ts",
        Seq("status", "total"))
    }),

    // g6 (r17): INCREMENTALLY MAINTAINED SCD2 history — the g4/g5
    // composite (VERDICT r16 task 4): g4 rebuilds history from the
    // full change log every run; here the same log arrives as three
    // time-ordered batches (ten-day windows — the weekly-feed shape)
    // folded into a persisted history via SilverIndex.refreshScd2:
    // close the open version, open the new one, under the batch-id +
    // high-water-mark guards (SCD2 close is NOT a semilattice — the
    // s9 transactional family, not the g3 merge family). The
    // maintained history equals the one-shot Scd2.history exactly, so
    // g4's oracle applies VERBATIM. (Scd2IncrementalSpec adds
    // chunking-fuzz ≡ one-shot, replay no-op, out-of-order raise, and
    // crash-window recovery.)
    "g6_incr_scd2" -> ((s, dir) =>
      graft.pipeline.SilverIndex.scd2Index(s, scd2Path(s, dir))
        .select(col("user_id"), col("event_type"), col("effective_from"),
          col("effective_to"), col("is_current"))),

    // g7 (r18): POINT-IN-TIME AUDIT from the g6-maintained history
    // (VERDICT r17 task 4) — "state of every user at time T", the
    // question SCD2 exists to answer, served from the index: the
    // keys-sized current segment + closed partitions PRUNED by the
    // per-batch high-water manifest (a probe at 01-25 never opens
    // batches 0–1 — their versions are all dead by then; PLANS.md pins
    // the PartitionFilters). Three probes spanning the three folds;
    // oracle = the g4 reconstruction CTE filtered to each T — no log
    // scan happens here, but the answers must match it row-for-row.
    "g7_scd2_asof" -> ((s, dir) => {
      val p = scd2Path(s, dir)
      Seq("2024-01-08", "2024-01-15", "2024-01-25").map { d =>
        graft.pipeline.SilverIndex.scd2AsOf(
            s, p, lit(d).cast("timestamp"))
          .select(lit(d).cast("timestamp").as("probe_ts"),
            col("user_id"), col("event_type"), col("effective_from"),
            col("effective_to"), col("is_current"))
      }.reduce(_.unionByName(_))
    })
  )

  /** The incrementally-maintained SCD2 history over the event log
    * (once per JVM + sf dir): three time-ordered ten-day folds through
    * [[graft.pipeline.SilverIndex.refreshScd2]] — shared by g6 (full
    * history) and g7 (point-in-time serve). */
  private def scd2Path(s: SparkSession, dir: String): String =
    IndexMemo.path(s"scd2:$dir") { path =>
      val ev = t(s, dir, "events").where(col("event_type").isNotNull)
      val cut1 = lit("2024-01-11").cast("timestamp")
      val cut2 = lit("2024-01-21").cast("timestamp")
      Seq(
        ev.where(col("ts") < cut1),
        ev.where(col("ts") >= cut1 && col("ts") < cut2),
        ev.where(col("ts") >= cut2)
      ).zipWithIndex.foreach { case (b, i) =>
        graft.pipeline.SilverIndex.refreshScd2(
          b, batchId = i.toLong, keyCol = "user_id",
          attrCols = Seq("event_type"), tsCol = "ts", path = path)
      }
    }

  private val simCte =
    """WITH sim AS (
      |  SELECT a.p_partkey AS posting_id, a.p_name AS business_title,
      |         a.p_retailprice AS posting_mid_salary,
      |         b.p_partkey AS payroll_id, b.p_name AS title_description,
      |         b.p_retailprice AS base_salary,
      |         100.0 * (1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
      |           / CAST(greatest(length(a.p_name), length(b.p_name)) AS DOUBLE)) AS score
      |  FROM part a, part b
      |  WHERE a.p_partkey % 50 = 0),
      |f AS (SELECT * FROM sim
      |      WHERE score >= 60.0
      |        AND base_salary >= posting_mid_salary * 0.9
      |        AND base_salary <= posting_mid_salary * 1.1
      |        AND posting_id <> payroll_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY posting_id
      |        ORDER BY score DESC, payroll_id ASC) AS rn FROM f),
      |m AS (SELECT * FROM r WHERE rn <= 3)""".stripMargin

  private val uniqueOracle: String = simCte +
    """
      |SELECT business_title AS posted_job_title,
      |       max(title_description) AS matched_actual_payroll_title,
      |       max(CAST(floor(score) AS INT)) AS match_score,
      |       max(posting_mid_salary) AS posting_mid_salary,
      |       max(base_salary) AS actual_base_salary
      |FROM m GROUP BY business_title""".stripMargin

  private val oracles0: Map[String, String] = Map(
    "g1_gold_matches" -> (simCte +
      """
        |SELECT business_title AS posted_job_title,
        |       title_description AS matched_actual_payroll_title,
        |       CAST(floor(score) AS INT) AS match_score,
        |       posting_mid_salary, base_salary AS actual_base_salary,
        |       posting_id, payroll_id
        |FROM m""".stripMargin),

    "g2_gold_unique" -> uniqueOracle,

    // the incrementally-maintained rollup must equal the one-shot
    // GROUP BY — g2's oracle applies verbatim
    "g3_incremental_gold" -> uniqueOracle,

    // change points via lag under the same (ts, attr) order, range
    // ends via lead over the change rows — the operator's two windows
    // spelled in SQL
    "g4_scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |o AS (SELECT user_id, event_type, ts,
        |        lag(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_type) AS pa
        |      FROM e),
        |c AS (SELECT user_id, event_type, ts AS effective_from FROM o
        |      WHERE pa IS NULL OR pa <> event_type),
        |v AS (SELECT user_id, event_type, effective_from,
        |        lead(effective_from) OVER (PARTITION BY user_id
        |          ORDER BY effective_from, event_type) AS effective_to
        |      FROM c)
        |SELECT user_id, event_type, effective_from, effective_to,
        |       effective_to IS NULL AS is_current
        |FROM v""".stripMargin,

    // the MERGE spelled in SQL: last change per key under the same
    // (ts, op, attrs) descending order, base anti-joined on changed
    // keys, non-delete lasts upserted
    "g5_cdc_apply" ->
      """WITH ch AS (
        |  SELECT l_orderkey AS k,
        |         CASE WHEN l_linenumber % 3 = 0 THEN 'D'
        |              WHEN l_linenumber % 3 = 1 THEN 'U'
        |              ELSE 'I' END AS op,
        |         l_shipdate AS ts,
        |         l_returnflag AS status, l_extendedprice AS total
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_shipdate IS NOT NULL
        |    AND l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY k
        |        ORDER BY ts DESC, op DESC, status DESC, total DESC) AS rn
        |      FROM ch),
        |last AS (SELECT * FROM r WHERE rn = 1)
        |SELECT o.o_orderkey AS k, o.o_orderstatus AS status,
        |       o.o_totalprice AS total
        |FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM last WHERE last.k = o.o_orderkey)
        |UNION ALL
        |SELECT k, status, total FROM last WHERE op <> 'D'""".stripMargin
  )

  // the maintained history must equal the one-shot rebuild exactly —
  // g4's oracle applies verbatim (the g3/m9 discipline)
  val oracles: Map[String, String] = oracles0 +
    ("g6_incr_scd2" -> oracles0("g4_scd2_history")) +
    // g7: the g4 reconstruction CTE joined to the three probe times —
    // versions alive at T are effective_from <= T < effective_to (open
    // versions: effective_to NULL); the Spark side answers from the
    // pruned index, the oracle from the full log, and they must match
    ("g7_scd2_asof" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |o AS (SELECT user_id, event_type, ts,
        |        lag(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_type) AS pa
        |      FROM e),
        |c AS (SELECT user_id, event_type, ts AS effective_from FROM o
        |      WHERE pa IS NULL OR pa <> event_type),
        |v AS (SELECT user_id, event_type, effective_from,
        |        lead(effective_from) OVER (PARTITION BY user_id
        |          ORDER BY effective_from, event_type) AS effective_to
        |      FROM c),
        |h AS (SELECT user_id, event_type, effective_from, effective_to,
        |             effective_to IS NULL AS is_current
        |      FROM v),
        |p AS (SELECT CAST('2024-01-08' AS TIMESTAMP) AS probe_ts
        |      UNION ALL SELECT CAST('2024-01-15' AS TIMESTAMP)
        |      UNION ALL SELECT CAST('2024-01-25' AS TIMESTAMP))
        |SELECT p.probe_ts, h.user_id, h.event_type, h.effective_from,
        |       h.effective_to, h.is_current
        |FROM h JOIN p
        |  ON h.effective_from <= p.probe_ts
        | AND (h.effective_to > p.probe_ts OR h.effective_to IS NULL)""".stripMargin)
}
