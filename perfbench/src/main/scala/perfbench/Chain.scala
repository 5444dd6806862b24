package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.IngestFlow
import graft.serve.Serve
import Main.Ops

object Chain {
  /** One pass of the four chain calls. `rest` holds the fixture's counts for
    * the ingest: requests, non-empty pages, connections, bytes. */
  final case class Phase(ingest: SpanStats, bronze: SpanStats, matchS: SpanStats,
      gold: SpanStats, wallS: Double, cpuS: Double, restRows: Long, rest: Array[Long])
}

/** The weekly chain against the fixture, exactly as `IngestFlow.runAll`
  * runs it, one span per call, plus its output checks. */
final class Chain(spark: SparkSession, lake: String, data: ChainData,
    fixture: SocrataFixture, size: Size, brk: Option[String]) {

  private def maxPages(dataset: String) =
    Seq("cold", "rerun").map(fixture.pageCount(_, dataset)).max + 1
  private val sources = Seq(
    IngestFlow.RestDataset("nyc_payroll_data", fixture.url("payroll"),
      ChainData.payrollFields, size.pageRows, maxPages("payroll")),
    IngestFlow.RestDataset("nyc_job_postings_data", fixture.url("jobs"),
      ChainData.postingFields, size.pageRows, maxPages("jobs")))
  private val warehouse = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

  var j1Rows = 0L
  var j2Rows = 0L
  var goldFilesPerTable = 0.0

  private def rmrf(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** Back to an empty warehouse and lake (the lightcast table stays). */
  def reset(): Unit = {
    spark.catalog.clearCache()
    Seq("bronze", "gold").foreach(db => spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
    Seq("bronze.db", "gold.db").foreach(d => rmrf(new File(warehouse, d)))
    Seq("nyc_payroll_data.parquet", "nyc_job_postings_data.parquet",
      "nyc_payroll_data.parquet__retired", "nyc_job_postings_data.parquet__retired",
      "_staging").foreach(d => rmrf(new File(lake, d)))
  }

  /** The cold chain (`refresh = false`, week one) or the rerun after the
    * weekly delta (`refresh = true`, week two). */
  def phase(refresh: Boolean): Chain.Phase = {
    val week = if (refresh) "rerun" else "cold"
    fixture.serve(week)
    fixture.resetCounters()
    val c0 = Main.cpuS
    val t0 = System.nanoTime()
    val (_, ing) = Trace.span("sources.ingest")(
      Ops.run("runDataIngestion")(IngestFlow.runDataIngestion(spark, sources, lake)))
    val rest = Array(fixture.requests.get, fixture.pages.get, fixture.connections.get, fixture.bytes.get)
    val (_, brz) = Trace.span("sources.bronze")(
      Ops.run("dbSync")(IngestFlow.dbSync(spark, lake, refresh)))
    val (_, mat) = Trace.span("pipeline.match")(
      Ops.run("runFuzzyMatch")(IngestFlow.runFuzzyMatch(spark)))
    val (_, gold) = Trace.span("pipeline.gold")(
      Ops.run("runGoldLayer")(IngestFlow.runGoldLayer(spark, refresh)))
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Main.cpuS - c0
    val w = if (refresh) data.rerun else data.cold
    Chain.Phase(ing, brz, mat, gold, wall, cpu, w.payroll.size + w.postings.size, rest)
  }

  /** The output checks of one phase; each is one operation. */
  def checks(cold: Boolean): Unit = Trace.span("checks") {
    val present = (p: Planted) => if (cold) p.inCold else p.inRerun
    val planted = data.planted
    val titles = planted.map(_.posting)
    Ops.run("read J1") {
      val j1 = spark.table("bronze.payroll_to_jobs_title_fuzzy_matches")
      val j2 = spark.table("bronze.jobs_to_lightcast_title_fuzzy_matches")
      val g = spark.table("gold.nyc_salary_matches")
      val got1 = j1.where(col("business_title").isin(titles: _*))
        .select("business_title", "title_description", "base_salary").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      val got2 = j2.where(col("business_title").isin(titles: _*))
        .select("business_title", "lightcast_matched_occupation").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val gotG = g.where(col("posted_job_title").isin(titles: _*))
        .select("posted_job_title", "matched_actual_payroll_title", "actual_base_salary").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      val phase = if (cold) "cold" else "rerun"
      def has(rows: Seq[(String, String, Double)], p: Planted) =
        rows.exists(r => r._1 == p.posting && r._2 == p.payrollTitle && math.abs(r._3 - p.salary) < 0.005)
      planted.foreach { p =>
        val want = present(p)
        def verdict(where: String, got: Boolean) =
          if (got == want) None
          else Some(s"$phase: planted ${p.kind} pair '${p.posting}' ~ '${p.payrollTitle}' " +
            s"@ ${p.salary} ${if (want) "missing from" else "present in"} $where")
        Ops.check(verdict("J1", has(got1.toSeq, p)))
        Ops.check(verdict("J2", got2.contains((p.posting, p.payrollTitle))))
        Ops.check(verdict("gold", has(gotG.toSeq, p)))
      }
      // gold is consistent with bronze
      val n1 = j1.count()
      val distinctTitles = j1.select("business_title").distinct().count()
      val nGold = g.count() + (if (brk.contains("count")) 1 else 0)
      val nUnique = spark.table("gold.nyc_salary_matches_unique_job_posting_title").count()
      Ops.check(if (nGold == n1) None
        else Some(s"$phase: gold.nyc_salary_matches has $nGold rows, J1 has $n1"))
      Ops.check(if (nUnique == distinctTitles) None
        else Some(s"$phase: unique-title gold has $nUnique rows, J1 has $distinctTitles titles"))
      Ops.check(if (n1 > 0) None else Some(s"$phase: J1 is empty"))
      j1Rows = n1
      j2Rows = j2.count()
      if (!cold) {
        val files = Serve.registry.map { d =>
          val dir = new File(new File(warehouse, "gold.db"), d.table.stripPrefix("gold."))
          Option(dir.listFiles).map(_.count(_.getName.startsWith("part-"))).getOrElse(0)
        }
        goldFilesPerTable = files.sum.toDouble / files.size
      }
    }
  }
}
