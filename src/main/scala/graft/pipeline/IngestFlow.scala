package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Bronze, HttpJsonPageFetcher, LakeIO}

/** The reference's three scheduled flows chained as one entry point:
  *
  *  1. Data_Ingestion_Flow (/root/reference/src/data_ingestion.py:73-96) —
  *     paginated REST fetch → parquet lake write, one artifact per source.
  *  2. db_sync (/root/reference/src/db_sync.py:16-63) — lake → BRONZE
  *     catalog tables with audit columns.
  *  3. fuzzy_match (/root/reference/src/fuzzy_flows.py:9-14) — salary match
  *     (J1) then lightcast match (J2), each persisted to bronze.
  *  4. business_logic_aggregation (/root/reference/src/cleaned_data.py:17-46)
  *     — the four GOLD CTAS.
  *
  * The reference schedules these as three weekly Prefect crons (ingestion
  * midnight, matching 1am, gold 2am — data_ingestion.py:98-106,
  * fuzzy_flows.py:16-23, cleaned_data.py:48-56); here the sequencing is a
  * plain function call so any scheduler (cron, Airflow, a driver loop) can
  * own the trigger. Each stage is independently callable and idempotent
  * where the reference's is (bronze/gold CREATE IF NOT EXISTS).
  *
  * Scale shape: the REST scan parallelizes page fetches across executors
  * (unlike the reference's driver-side fetch loop), the lake write is a
  * normal distributed parquet write, and the match flows are the
  * prefix-filtered [[graft.operators.SimilarityJoin]] — nothing in the
  * chain funnels data through the driver.
  */
object IngestFlow {

  /** One paginated REST source (the reference's NYC_PAYROLL_DATA_API /
    * NYC_JOB_POSTINGS_API env pair, data_ingestion.py:77-78). `fields` is
    * required because Socrata JSON carries no schema; values arrive
    * stringly and are cast by the typed projections below, exactly as the
    * reference casts downstream of its polars ingest. `fetcherClass` is
    * injectable per source so tests (and air-gapped runs) can substitute
    * a deterministic fetcher for HTTP. */
  final case class RestDataset(
      table: String,
      url: String,
      fields: Seq[String],
      pageSize: Long = 50000,
      maxPages: Int = 64,
      fetcherClass: String = classOf[HttpJsonPageFetcher].getName)

  /** The payroll schema the match flow declares
    * (fuzzy_match_salary.py:40-48,94-107): numeric pay columns as doubles. */
  def typedPayroll(raw: DataFrame): DataFrame =
    raw.select(
      col("title_description"),
      col("base_salary").cast("double"),
      col("pay_basis"),
      col("regular_gross_paid").cast("double"),
      col("total_ot_paid").cast("double"),
      col("total_other_pay").cast("double"),
      col("fiscal_year"))

  /** Jobs columns the match flow consumes (fuzzy_match_salary.py:49-55). */
  def typedJobs(raw: DataFrame): DataFrame =
    raw.select(
      col("business_title"),
      col("salary_range_from").cast("double"),
      col("salary_range_to").cast("double"),
      col("posting_date"),
      col("post_until"))

  /** A declared expectation suite gating one table's promotion into the
    * lake (the q20 machinery wired into the flow — VERDICT r16 task 5:
    * the reference promotes every fetch unchecked,
    * /root/reference/src/cleaned_data.py:35-39; an AUDIT platform
    * should audit its own inputs). */
  final case class TableExpectations(
      checks: Seq[graft.operators.Expectations.Check],
      uniques: Seq[graft.operators.Expectations.UniqueKey] = Nil,
      volume: Option[VolumeGate] = None)

  /** A dynamic VOLUME expectation riding the maintained drift ledger
    * (VERDICT r17 task 5): the staged batch's row count is compared
    * against the mean of the ledger's last `windowN` periods (the x15
    * ratio, [[graft.operators.Expectations.volumeReport]]) and gates
    * promotion at `threshold` — feed collapse/explosion the static
    * row checks can't see. A missing or not-yet-`windowN`-deep ledger
    * gates nothing (cold start promotes on the static suite alone). */
  final case class VolumeGate(
      ledgerPath: String,
      windowN: Int,
      threshold: Double,
      name: String = "volume_level_shift")

  /** Flow 1: fetch every source, STAGE it, gate it on its declared
    * expectation suite (if any), and promote into the lake on pass —
    * on fail the staged batch moves WHOLE to `_quarantine/` next to
    * its violation report, and nothing reaches the live lake path (so
    * the downstream bronze sync never sees it). Sources without a
    * declared suite promote unconditionally, the reference's
    * semantics. Returns the PROMOTED paths. */
  def runDataIngestion(spark: SparkSession, sources: Seq[RestDataset],
      lakeDir: String,
      expectations: Map[String, TableExpectations] = Map.empty)
      : Seq[String] =
    sources.flatMap { src =>
      val live = s"$lakeDir/${src.table}.parquet"
      val liveP = new Path(live)
      val fs = LakeIO.fsFor(spark, live)
      // a crash between the two renames of a previous promotion leaves
      // this table retired-only: restore the retired copy BEFORE any gate
      // decision, so a quarantining run still leaves the previous live
      // copy in place (ADVICE r17). Only that copy: the staged batch of
      // the crashed run never passed the gate.
      LakeIO.restore(fs, liveP, Seq(LakeIO.retired(liveP)))
      val df = spark.read.format("graft-rest")
        .option("url", src.url)
        .option("fields", src.fields.mkString(","))
        .option("pageSize", src.pageSize.toString)
        .option("maxPages", src.maxPages.toString)
        .option("fetcher", src.fetcherClass)
        .load()
      val staging = s"$lakeDir/_staging/${src.table}.parquet"
      df.write.mode("overwrite").parquet(staging)
      expectations.get(src.table) match {
        case None =>
          LakeIO.swap(fs, new Path(staging), liveP, "promote")
          Some(live)
        case Some(suite) =>
          // ONE map-combined scan of the staged batch (the q20 shape);
          // the report is checks-count rows — collect once, decide,
          // and rewrite the collected rows for the quarantine record.
          // The volume gate (if declared, and its ledger deep enough)
          // unions one more row: the staged count vs the maintained
          // ledger's recent periods — the check a feed collapse passes
          // every static predicate on
          val staged = spark.read.parquet(staging)
          val static = graft.operators.Expectations.report(
            staged, src.table, suite.checks, suite.uniques)
          val rep = suite.volume.flatMap { vg =>
            // only the MISSING-ledger signal (driftLedgerIndex's
            // require → IllegalArgumentException) means "cold start,
            // gate nothing"; a genuine read failure (IO/permission/
            // corrupt parquet) must fail the run loudly rather than
            // silently disable the volume gate (ADVICE r18)
            val led =
              try Some(graft.pipeline.SilverIndex
                .driftLedgerIndex(spark, vg.ledgerPath))
              catch { case _: IllegalArgumentException => None }
            led.map(l => static.unionByName(
              graft.operators.Expectations.volumeReport(
                staged.count(), l, "period", "cnt", vg.windowN,
                vg.threshold, src.table, vg.name)))
          }.getOrElse(static)
          val rows = rep.collect()
          if (rows.forall(_.getAs[Boolean]("pass"))) {
            LakeIO.swap(fs, new Path(staging), liveP, "promote")
            Some(live)
          } else {
            LakeIO.moveAside(fs, new Path(staging),
              new Path(s"$lakeDir/_quarantine/${src.table}.parquet"),
              "quarantine")
            import scala.jdk.CollectionConverters._
            spark.createDataFrame(rows.toSeq.asJava, rep.schema)
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$lakeDir/_quarantine/${src.table}_report.parquet")
            None
          }
      }
    }

  /** XLSX → lake: the reference's Lightcast workbook arrives in object
    * storage by hand and is converted to parquet out-of-band
    * (fuzzy_match_jobs_durations.py:34 only ever reads "the most recent
    * lightcast parquet"); this makes that conversion a flow step over the
    * native [[graft.sources.XlsxSource]] reader. Returns the lake path. */
  def ingestXlsx(spark: SparkSession, xlsxPath: String, table: String,
      lakeDir: String, header: Boolean = true): String = {
    val df = spark.read.format("graft-xlsx")
      .option("header", header.toString).load(xlsxPath)
    val path = s"$lakeDir/$table.parquet"
    df.write.mode("overwrite").parquet(path)
    path
  }

  /** Flow 2: lake → bronze catalog (db_sync's update_data,
    * utils.py:171-188). Default mirrors the reference's CTAS IF NOT
    * EXISTS (first ingestion wins); `refresh = true` re-reads every lake
    * artifact so a weekly re-ingestion actually reaches bronze — see
    * [[graft.sources.Bronze.register]]. */
  def dbSync(spark: SparkSession, lakeDir: String,
      refresh: Boolean = false): Seq[String] =
    Bronze.registerLake(spark, lakeDir, refresh)

  /** Flow 3: both fuzzy-match stages, persisted to the bronze tables the
    * gold layer reads (fuzzy_flows.py:9-14; table names from
    * fuzzy_match_salary.py / fuzzy_match_jobs_durations.py outputs). The
    * lightcast table carries the XLSX-derived columns — absent it (the
    * reference raises FileNotFoundError), this throws the catalog's
    * table-not-found. */
  def runFuzzyMatch(spark: SparkSession,
      payrollTable: String = "bronze.nyc_payroll_data",
      jobsTable: String = "bronze.nyc_job_postings_data",
      lightcastTable: String = "bronze.lightcast_job_postings_data"): Unit = {
    // recover from a crashed run's orphaned locations (see
    // Bronze.dropOrphanLocation) before the overwriting saves
    Bronze.dropOrphanLocation(spark, "bronze",
      "payroll_to_jobs_title_fuzzy_matches")
    Bronze.dropOrphanLocation(spark, "bronze",
      "jobs_to_lightcast_title_fuzzy_matches")
    val matches = NycPipeline.salaryMatch(
      typedPayroll(spark.table(payrollTable)),
      typedJobs(spark.table(jobsTable)))
    matches.write.mode("overwrite")
      .saveAsTable("bronze.payroll_to_jobs_title_fuzzy_matches")
    // J2 reads the PERSISTED matches (like the reference's second flow
    // reading the first's parquet) so the expensive J1 join runs once
    NycPipeline.lightcastMatch(
      spark.table("bronze.payroll_to_jobs_title_fuzzy_matches"),
      spark.table(lightcastTable))
      .write.mode("overwrite")
      .saveAsTable("bronze.jobs_to_lightcast_title_fuzzy_matches")
  }

  /** Flow 4: the gold CTAS layer. */
  def runGoldLayer(spark: SparkSession, refresh: Boolean = false): Unit =
    GoldLayer.run(spark, refresh)

  /** The whole weekly chain: ingest → sync → match → gold. After this,
    * [[graft.serve.Serve]] / [[graft.serve.HttpApi]] can page every gold
    * table from a previously cold catalog. `refresh = true` makes a
    * RE-run propagate end to end (bronze re-read from the lake, gold
    * rebuilt); the default keeps the reference's first-run-wins
    * semantics at both layers. The match stage always overwrites its
    * bronze outputs, exactly as the reference's flows overwrite their
    * match parquet on every run. */
  def runAll(spark: SparkSession, sources: Seq[RestDataset],
      lakeDir: String, refresh: Boolean = false,
      expectations: Map[String, TableExpectations] = Map.empty): Unit = {
    runDataIngestion(spark, sources, lakeDir, expectations)
    dbSync(spark, lakeDir, refresh)
    runFuzzyMatch(spark)
    runGoldLayer(spark, refresh)
  }
}
