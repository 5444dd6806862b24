package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.{token_set_ratio, wratio}
import graft.operators.{Blocking, SimilarityJoin, SimilarityJoinConfig}
import graft.queries.Tables.t

/** Similarity-join queries (SURVEY §2.3 J1/J2) over the testdata `part`
  * table. Two flavors:
  *   - `j1_simjoin_lev`: DuckDB-oracle-able (levenshtein is a DuckDB
  *     built-in) — verifies the whole SimilarityJoin machinery end to end.
  *   - `j2_simjoin_fuzzy`: exact reference semantics (token_set_ratio ≥ θ₁
  *     prefilter then WRatio ≥ θ₂) — not expressible in DuckDB SQL; driver
  *     records a rows-only check, fidelity is covered by ScalaTest golden
  *     oracles.
  */
object FuzzyQueries {

  /** 100·(1 − levenshtein/maxlen) as a double (matches DuckDB arithmetic
    * bit-for-bit: integer distance and length, one divide, one multiply).
    * Shared with [[GoldQueries]]. */
  private[queries] def levSim(a: Column, b: Column): Column =
    lit(100.0) * (lit(1.0) -
      levenshtein(a, b).cast("double") /
        greatest(length(a), length(b)).cast("double"))

  def levSelfJoin(s: SparkSession, dir: String): DataFrame = {
    val left = t(s, dir, "part").select(col("p_name").as("left_name"))
    val right = t(s, dir, "part").select(col("p_name").as("right_name"))
    val cfg = SimilarityJoinConfig(
      leftKey = "left_name", rightKey = "right_name",
      preScorer = levSim, preThreshold = 60.0,
      scorer = levSim, scoreThreshold = 60.0,
      blocking = Blocking.Exact, normalize = false)
    // distinct key pairs are the deliverable — skip the row join-back
    SimilarityJoin.scoredKeyPairs(left, right, cfg)
      .where(col(SimilarityJoin.KEY_L) < col(SimilarityJoin.KEY_R))
      .select(col(SimilarityJoin.KEY_L).as("left_name"),
        col(SimilarityJoin.KEY_R).as("right_name"),
        floor(col("score")).cast("int").as("sim_pct"))
  }

  def fuzzySelfJoin(s: SparkSession, dir: String): DataFrame = {
    val left = t(s, dir, "part").select(col("p_name").as("left_name"))
    val right = t(s, dir, "part").select(col("p_name").as("right_name"))
    val cfg = SimilarityJoinConfig(
      leftKey = "left_name", rightKey = "right_name",
      preScorer = token_set_ratio, preThreshold = 55.0,
      scorer = wratio, scoreThreshold = 60.0,
      blocking = Blocking.Token)
    SimilarityJoin.scoredKeyPairs(left, right, cfg)
      .where(col(SimilarityJoin.KEY_L) =!= col(SimilarityJoin.KEY_R))
      .select(col(SimilarityJoin.KEY_L).as("left_name"),
        col(SimilarityJoin.KEY_R).as("right_name"),
        round(col("score"), 1).as("wratio_score"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j1_simjoin_lev" -> (levSelfJoin _),
    "j2_simjoin_fuzzy" -> (fuzzySelfJoin _)
  )

  val oracles: Map[String, String] = Map(
    "j1_simjoin_lev" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS left_name, b.p_name AS right_name,
        |       CAST(FLOOR(100.0 * (1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
        |            / CAST(GREATEST(length(a.p_name), length(b.p_name)) AS DOUBLE))) AS INT) AS sim_pct
        |FROM n a, n b
        |WHERE a.p_name < b.p_name
        |  AND 100.0 * (1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
        |      / CAST(GREATEST(length(a.p_name), length(b.p_name)) AS DOUBLE)) >= 60.0""".stripMargin
    // j2_simjoin_fuzzy: intentionally no oracle (rows-only check)
  )
}
