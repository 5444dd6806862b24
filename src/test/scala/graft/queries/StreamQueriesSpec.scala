package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, SparkTestBase}

/** Stream ≡ batch inside the test suite: every s-family query whose
  * oracle is some batch query's oracle verbatim must answer exactly
  * what that batch twin answers, at sf0.01 (the gate's scale). The
  * micro-batches are replayed through [[StreamQueries]]'s shared replay
  * and [[graft.pipeline.SilverIndex.onEachBatch]], so this pins the
  * replay's chunking and every fold it drives. Compared as the oracle
  * gate compares: columns by name, rows sorted, cells exactly equal. */
class StreamQueriesSpec extends SparkTestBase {

  private val dir = sf("sf0.01")

  /** Each stream query → the batch query whose oracle it reuses. */
  private val twins = Map(
    "s7_stream_kmv" -> "k1_kmv_distinct",
    "s9_stream_cms" -> "k2_cms_freq",
    "s10_stream_bloom" -> "k4_bloom_filter",
    "s12_stream_hll" -> "k5_hll_distinct",
    "s14_stream_heavy" -> "k7_heavy_hitters",
    "s11_stream_sessions" -> "x8_sessionize",
    "s13_stream_funnel" -> "x12_funnel_latency",
    "s15_stream_drift" -> "x13_weekly_drift",
    "s17_stream_levelshift" -> "x15_level_shift",
    "s18_stream_decayed" -> "x16_decayed_freq",
    "s20_stream_bursts" -> "x9_burst_detect",
    "s16_stream_semantic" -> "c28_semantic_decontam")

  private def canon(df: DataFrame): (Seq[String], Seq[Row]) = {
    val cols = df.columns.toSeq.sorted
    (cols, df.select(cols.map(col): _*).collect().toSeq.sortBy(_.toString))
  }

  test("each twin is checked against its stream query's oracle verbatim") {
    twins.foreach { case (s, b) =>
      assert(StreamQueries.oracles(s) == SparkEntry.oracleSql(b), s)
    }
  }

  twins.toSeq.sorted.foreach { case (s, b) =>
    test(s"$s answers exactly what $b answers at sf0.01") {
      val (sCols, sRows) = canon(SparkEntry.queries(s)(spark, dir))
      val (bCols, bRows) = canon(SparkEntry.queries(b)(spark, dir))
      assert(sCols == bCols)
      assert(sRows.nonEmpty, s"$s is empty, so the equality shows nothing")
      assert(sRows.length == bRows.length)
      sRows.zip(bRows).foreach { case (x, y) => assert(x == y) }
    }
  }
}
