package perfbench

import org.apache.spark.sql.SparkSession

import graft.{PerfbenchIndexes, SparkEntry}
import Main.Ops

object Battery {
  /** The queries, in pass order, with their row counts on the sf0.01 tables
    * as graft's correctness gate pins them. */
  val pinned: Seq[(String, Long)] = Seq(
    "c1_corpus_pipeline" -> 403L, "c11_curation_ccnet" -> 188L, "d13_quality_dedup" -> 500L,
    "d2_jaccard_pairs" -> 25L, "d7_incr_minhash" -> 25L, "d21_containment_served" -> 500L,
    "s16_stream_semantic" -> 475L, "a3_ann_ivf" -> 50L, "a12_knn_join" -> 1500L,
    "h1_hybrid_rrf" -> 10L, "t10_bm25_batch" -> 30L)

  final case class Query(name: String, span: SpanStats, cpuS: Double)
  final case class Pass(queries: Seq[Query], wallS: Double, cpuS: Double)
}

/** The curation battery: eleven LLM-data queries, each run through
  * `SparkEntry.queries(name)`, in one warm session over the fixed seed-42
  * sf0.01 `documents` and `embeddings` tables in `dir`. The untimed warm-up
  * pass collects every result and checks its row count; the timed pass
  * writes each into the `noop` sink. `--break rows` expects one more row of
  * the first query than it returns. */
final class Battery(spark: SparkSession, dir: String, brk: Option[String]) {
  import Battery._

  /** Build the persisted indexes the queries read, one span each. */
  def provision(): Seq[(String, Double)] =
    PerfbenchIndexes.builders.map { case (name, build) =>
      name -> Trace.span(s"queries.provision.$name")(build(spark, dir))._2.wallS
    }

  def warmUp(): Unit = pinned.zipWithIndex.foreach { case ((name, rows), i) =>
    val want = if (i == 0 && brk.contains("rows")) rows + 1 else rows
    Ops.check(
      try {
        val got = SparkEntry.queries(name)(spark, dir).collect().length
        if (got == want) None else Some(s"$name: $got rows, expected $want")
      } catch { case e: Exception => Some(s"$name threw $e") })
  }

  /** The timed pass, one span per query. */
  def pass(): Pass = {
    val c0 = Main.cpuS
    val t0 = System.nanoTime()
    val qs = pinned.map { case (name, _) =>
      val q0 = Main.cpuS
      val (_, span) = Trace.span(s"queries.$name")(Ops.run(name)(
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()))
      Query(name, span, Main.cpuS - q0)
    }
    Pass(qs, (System.nanoTime() - t0) / 1e9, Main.cpuS - c0)
  }
}
