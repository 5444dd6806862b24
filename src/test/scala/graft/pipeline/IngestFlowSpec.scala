package graft.pipeline

import graft.SparkTestBase
import graft.serve.Serve
import graft.sources.PageFetcher
import org.apache.spark.sql.functions._

/** Stand-in for the NYC payroll Socrata feed: FIXTURES.md-shaped rows,
  * stringly like real Socrata JSON, served 2 rows per page to exercise
  * pagination. */
class PayrollPageFetcher extends PageFetcher {
  private val rows = Seq(
    Seq("SOFTWARE ENGINEER", "100000", "per Annum", "101000", "500", "200", "2024"),
    Seq("Software Engineer.", "150000", "per Annum", "151000", "0", "0", "2025"),
    Seq("SOFTWARE ENGINEER", "95000", "per Annum", "96000", "100", "0", "2023"),
    Seq("POLICE OFFICER", "65000", "per Annum", "70000", "5000", "1000", "2024"),
    Seq("POLICE OFFICER", "90000", "per Annum", "95000", "2000", "500", "2025"),
    Seq("Crossing Guard", "33000", "per Annum", "33500", "0", "0", "2024"))
  private val fields = Seq("title_description", "base_salary", "pay_basis",
    "regular_gross_paid", "total_ot_paid", "total_other_pay", "fiscal_year")
  override def fetch(baseUrl: String, limit: Long, offset: Long): Seq[Map[String, String]] =
    rows.slice(offset.toInt, (offset + limit).toInt)
      .map(r => fields.zip(r).toMap)
}

/** Stand-in for the NYC job-postings feed, including the malformed
  * posting_date row P4 must drop and a null post_until P5 must fill. */
class JobsPageFetcher extends PageFetcher {
  private val rows = Seq(
    Seq("Software Engineer", "90000", "120000", "2025-01-15T00:00:00.000", "15-AUG-2025"),
    Seq("Senior Software-Engineer", "140000", "160000", "2025-02-01T00:00:00", null),
    Seq("Police Officer", "50000", "80000", "2025-03-10T12:30:00", "01-MAY-2025"),
    Seq("Crossing Guard", "30000", "40000", "not-a-date", "01-JUN-2025"))
  private val fields = Seq("business_title", "salary_range_from",
    "salary_range_to", "posting_date", "post_until")
  override def fetch(baseUrl: String, limit: Long, offset: Long): Seq[Map[String, String]] =
    rows.slice(offset.toInt, (offset + limit).toInt)
      .map(r => fields.zip(r).toMap)
}

/** Minimal Lightcast-shaped workbook (inline strings + numbers) for the
  * XLSX → lake flow step. */
object LightcastXlsxFixture {
  def write(path: java.nio.file.Path): Unit = {
    val zip = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    def row(cells: Seq[Any]): String =
      "<row>" + cells.map {
        case s: String => s"""<c t="inlineStr"><is><t>$s</t></is></c>"""
        case n => s"<c><v>$n</v></c>"
      }.mkString + "</row>"
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    entry("xl/workbook.xml",
      """<?xml version="1.0"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |  <sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets>
        |</workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |  <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |  <sheetData>
         |    ${row(Seq("Occupation (SOC)", "Total Postings (Jan 2024 - Jun 2025)", "Median Posting Duration"))}
         |    ${row(Seq("Software Developers", 12000, 35.0))}
         |    ${row(Seq("Police Officers", 4000, 28.5))}
         |    ${row(Seq("Paralegals", 900, 41.0))}
         |  </sheetData>
         |</worksheet>""".stripMargin)
    zip.close()
  }
}

/** Drives the whole reference flow chain — REST fetch → lake → bronze →
  * fuzzy match → gold — from a cold catalog, through [[IngestFlow.runAll]]
  * alone. */
class IngestFlowSpec extends SparkTestBase {

  private val allTables = Seq(
    "bronze.nyc_payroll_data", "bronze.nyc_job_postings_data",
    "bronze.lightcast_job_postings_data",
    "bronze.payroll_to_jobs_title_fuzzy_matches",
    "bronze.jobs_to_lightcast_title_fuzzy_matches",
    "gold.nyc_salary_matches", "gold.nyc_matched_job_posting_duration_soc",
    "gold.nyc_salary_matches_unique_job_posting_title",
    "gold.nyc_matched_job_posting_duration_soc_unique_title")

  private def coldCatalog(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze")
    spark.sql("CREATE DATABASE IF NOT EXISTS gold")
    allTables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val Array(db, name) = t.split('.')
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        s"$db.db/$name")
      org.apache.commons.io.FileUtils.deleteQuietly(loc)
    }
  }

  test("runAll: REST → lake → bronze → match → gold from a cold catalog") {
    coldCatalog()
    val lake = java.nio.file.Files.createTempDirectory("graft-lake").toString

    // the lightcast workbook arrives as XLSX (the reference converts it
    // to parquet out-of-band; fuzzy_match_jobs_durations.py:34 reads the
    // newest parquet) — here the conversion is a first-class flow step
    val xlsx = java.nio.file.Files.createTempFile("lightcast", ".xlsx")
    LightcastXlsxFixture.write(xlsx)
    IngestFlow.ingestXlsx(spark, xlsx.toString,
      "lightcast_job_postings_data", lake)

    IngestFlow.runAll(spark,
      Seq(
        IngestFlow.RestDataset("nyc_payroll_data", "synthetic://payroll",
          Seq("title_description", "base_salary", "pay_basis",
            "regular_gross_paid", "total_ot_paid", "total_other_pay",
            "fiscal_year"),
          pageSize = 2, maxPages = 8,
          fetcherClass = classOf[PayrollPageFetcher].getName),
        IngestFlow.RestDataset("nyc_job_postings_data", "synthetic://jobs",
          Seq("business_title", "salary_range_from", "salary_range_to",
            "posting_date", "post_until"),
          pageSize = 2, maxPages = 8,
          fetcherClass = classOf[JobsPageFetcher].getName)),
      lake)

    // bronze carries the full feeds plus audit columns
    val payroll = spark.table("bronze.nyc_payroll_data")
    assert(payroll.count() == 6)
    assert(payroll.columns.contains("_record_id"))
    assert(spark.table("bronze.nyc_job_postings_data").count() == 4)

    // gold is populated end-to-end from nothing but the flow
    val gold = spark.table("gold.nyc_salary_matches")
    assert(gold.count() > 0)
    // parity with the directly-constructed pipeline of NycPipelineSpec:
    // same match survives the year filter, band, and 85/85 thresholds
    val se = gold.where(col("posted_job_title") === "Software Engineer")
      .collect()
    assert(se.nonEmpty && se.forall(_.getInt(6) == 212)) // posting_duration_days
    assert(gold.where(col("posted_job_title") === "Crossing Guard").count() == 0)

    val soc = spark.table("gold.nyc_matched_job_posting_duration_soc")
    assert(soc.count() > 0)
    assert(soc.columns.contains("lightcast_matched_occupation"))

    // and the serving layer pages it without any further setup
    val page = Serve.fetchDataset(spark, 0, offset = 0, limit = 2).collect()
    assert(page.nonEmpty)

    // re-running the chain is idempotent at the gold layer (CREATE IF NOT
    // EXISTS — reference sql/cleaned.sql semantics)
    IngestFlow.runFuzzyMatch(spark)
    IngestFlow.runGoldLayer(spark)
    assert(spark.table("gold.nyc_salary_matches").count() == gold.count())

    // gold refresh semantics: shrink bronze matches; the default run
    // leaves gold stale (reference IF NOT EXISTS), refresh rebuilds it
    val matchRows = spark.table("bronze.payroll_to_jobs_title_fuzzy_matches")
    val allMatches = matchRows.collect()
    spark.createDataFrame(
      java.util.Arrays.asList(allMatches.drop(1): _*), matchRows.schema)
      .write.mode("overwrite")
      .saveAsTable("bronze.payroll_to_jobs_title_fuzzy_matches")
    IngestFlow.runGoldLayer(spark)
    assert(spark.table("gold.nyc_salary_matches").count() == gold.count())
    IngestFlow.runGoldLayer(spark, refresh = true)
    assert(spark.table("gold.nyc_salary_matches").count() ==
      allMatches.length - 1)

    // bronze sync semantics on RE-ingestion: default keeps the first
    // ingestion (the reference's IF NOT EXISTS, utils.py:178); refresh
    // re-reads the lake so new data propagates
    val s2 = spark
    import s2.implicits._
    (1 to 9).map(i => Tuple1(s"t$i")).toDF("title_description")
      .write.mode("overwrite").parquet(s"$lake/nyc_payroll_data.parquet")
    IngestFlow.dbSync(spark, lake)
    assert(spark.table("bronze.nyc_payroll_data").count() == 6) // stale, as the reference
    IngestFlow.dbSync(spark, lake, refresh = true)
    assert(spark.table("bronze.nyc_payroll_data").count() == 9)
  }

  test("expectation gate (r17): a planted violation quarantines the " +
      "staged batch — nothing promoted, previous live copy retained, " +
      "report emitted; a passing suite promotes unchanged") {
    import graft.operators.Expectations.Check
    val lake = java.nio.file.Files.createTempDirectory("graft-gate").toString
    val payrollSrc = IngestFlow.RestDataset(
      "nyc_payroll_data", "synthetic://payroll",
      Seq("title_description", "base_salary", "pay_basis",
        "regular_gross_paid", "total_ot_paid", "total_other_pay",
        "fiscal_year"),
      pageSize = 2, maxPages = 8,
      fetcherClass = classOf[PayrollPageFetcher].getName)
    // pass path: sane bounds hold, the artifact promotes
    val pass = IngestFlow.runDataIngestion(spark, Seq(payrollSrc), lake,
      Map("nyc_payroll_data" -> IngestFlow.TableExpectations(Seq(
        Check("base_salary_nonneg", col("base_salary").cast("double") >= 0),
        Check("title_not_null", col("title_description").isNotNull)))))
    assert(pass == Seq(s"$lake/nyc_payroll_data.parquet"))
    assert(spark.read.parquet(s"$lake/nyc_payroll_data.parquet")
      .count() == 6)
    // fail path on a RE-ingestion: the staged batch quarantines WHOLE,
    // the previous live artifact stays, the report names the violation
    val fail = IngestFlow.runDataIngestion(spark, Seq(payrollSrc), lake,
      Map("nyc_payroll_data" -> IngestFlow.TableExpectations(Seq(
        Check("base_salary_floor",
          col("base_salary").cast("double") >= 1000000)))))
    assert(fail.isEmpty, "a failing suite must promote nothing")
    assert(spark.read.parquet(s"$lake/nyc_payroll_data.parquet")
      .count() == 6, "previous live artifact must remain")
    assert(spark.read
      .parquet(s"$lake/_quarantine/nyc_payroll_data.parquet")
      .count() == 6, "the staged batch moves whole to quarantine")
    val rep = spark.read
      .parquet(s"$lake/_quarantine/nyc_payroll_data_report.parquet")
      .collect()
    assert(rep.exists(r =>
      r.getAs[String]("check_name") == "base_salary_floor" &&
        !r.getAs[Boolean]("pass") && r.getAs[Long]("violations") == 6L),
      rep.mkString("; "))
    // fail path on a FRESH table: nothing ever reaches the live path,
    // so the bronze glob (lakeDir/*.parquet) cannot see it
    val jobsSrc = IngestFlow.RestDataset(
      "gated_jobs", "synthetic://jobs",
      Seq("business_title", "salary_range_from", "salary_range_to",
        "posting_date", "post_until"),
      pageSize = 2, maxPages = 8,
      fetcherClass = classOf[JobsPageFetcher].getName)
    val fresh = IngestFlow.runDataIngestion(spark, Seq(jobsSrc), lake,
      Map("gated_jobs" -> IngestFlow.TableExpectations(Seq(
        Check("post_until_not_null", col("post_until").isNotNull)))))
    assert(fresh.isEmpty)
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$lake/gated_jobs.parquet")), "fresh failing table must not land")
    assert(graft.sources.LakeIO.listLake(spark, s"$lake/*.parquet")
      .forall(!_.contains("gated_jobs")),
      "the bronze sync glob must never see a quarantined-only table")
  }

  test("volume gate (r18): a planted feed collapse quarantines with " +
      "the named violation though every static check passes; a " +
      "normal-volume batch promotes; a cold ledger gates nothing") {
    import graft.operators.Expectations.Check
    val s = spark
    import s.implicits._
    val payrollSrc = IngestFlow.RestDataset(
      "nyc_payroll_data", "synthetic://payroll",
      Seq("title_description", "base_salary", "pay_basis",
        "regular_gross_paid", "total_ot_paid", "total_other_pay",
        "fiscal_year"),
      pageSize = 2, maxPages = 8,
      fetcherClass = classOf[PayrollPageFetcher].getName)
    val static = Seq(
      Check("title_not_null", col("title_description").isNotNull))
    def ledgerOf(perPeriod: Int): String = {
      val path = java.nio.file.Files
        .createTempDirectory("graft-volled").toString + "/led"
      val rows = for {
        p <- Seq("2024-01-01", "2024-01-02", "2024-01-03")
        i <- 1 to perPeriod
      } yield (p, s"cat${i % 2}")
      SilverIndex.refreshDriftLedger(rows.toDF("period", "category"),
        batchId = 0L, periodCol = "period", catCol = "category",
        path = path)
      path
    }
    // COLLAPSE: the feed's 6 rows against a 12-row/period ledger —
    // ratio 0.5 past the 0.4 threshold; every static check passes,
    // only the volume row fails
    val lake1 = java.nio.file.Files.createTempDirectory("graft-vol1").toString
    val fail = IngestFlow.runDataIngestion(spark, Seq(payrollSrc), lake1,
      Map("nyc_payroll_data" -> IngestFlow.TableExpectations(static,
        volume = Some(IngestFlow.VolumeGate(ledgerOf(12), windowN = 3,
          threshold = 0.4)))))
    assert(fail.isEmpty, "a collapsed feed must promote nothing")
    val rep = spark.read
      .parquet(s"$lake1/_quarantine/nyc_payroll_data_report.parquet")
      .collect()
    assert(rep.exists(r =>
      r.getAs[String]("check_name") == "volume_level_shift" &&
        !r.getAs[Boolean]("pass") && r.getAs[Long]("violations") == 1L),
      rep.mkString("; "))
    assert(rep.filter(_.getAs[String]("check_name") == "title_not_null")
      .forall(_.getAs[Boolean]("pass")),
      "the static checks must pass — the volume row alone quarantines")
    // NORMAL volume: a 6-row/period ledger — ratio 0, promotes
    val lake2 = java.nio.file.Files.createTempDirectory("graft-vol2").toString
    val ok = IngestFlow.runDataIngestion(spark, Seq(payrollSrc), lake2,
      Map("nyc_payroll_data" -> IngestFlow.TableExpectations(static,
        volume = Some(IngestFlow.VolumeGate(ledgerOf(6), windowN = 3,
          threshold = 0.4)))))
    assert(ok == Seq(s"$lake2/nyc_payroll_data.parquet"))
    assert(spark.read.parquet(ok.head).count() == 6)
    // COLD ledger (shallower than windowN) and MISSING ledger: the
    // volume gate emits nothing, the static suite alone decides
    val lake3 = java.nio.file.Files.createTempDirectory("graft-vol3").toString
    assert(IngestFlow.runDataIngestion(spark, Seq(payrollSrc), lake3,
      Map("nyc_payroll_data" -> IngestFlow.TableExpectations(static,
        volume = Some(IngestFlow.VolumeGate(ledgerOf(12), windowN = 5,
          threshold = 0.4))))).nonEmpty,
      "a ledger shallower than the window must not gate")
    val lake4 = java.nio.file.Files.createTempDirectory("graft-vol4").toString
    assert(IngestFlow.runDataIngestion(spark, Seq(payrollSrc), lake4,
      Map("nyc_payroll_data" -> IngestFlow.TableExpectations(static,
        volume = Some(IngestFlow.VolumeGate(
          lake4 + "/no-such-ledger", windowN = 3,
          threshold = 0.4))))).nonEmpty,
      "a missing ledger must not gate")
  }

  test("retired restore (ADVICE r17): a dangling __retired copy is " +
      "restored at flow start, so a QUARANTINING next run still " +
      "leaves the previous live artifact in place") {
    import graft.operators.Expectations.Check
    val lake = java.nio.file.Files.createTempDirectory("graft-ret").toString
    val payrollSrc = IngestFlow.RestDataset(
      "nyc_payroll_data", "synthetic://payroll",
      Seq("title_description", "base_salary", "pay_basis",
        "regular_gross_paid", "total_ot_paid", "total_other_pay",
        "fiscal_year"),
      pageSize = 2, maxPages = 8,
      fetcherClass = classOf[PayrollPageFetcher].getName)
    IngestFlow.runDataIngestion(spark, Seq(payrollSrc), lake, Map.empty)
    val live = s"$lake/nyc_payroll_data.parquet"
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // simulate the crash window: live retired, staged never promoted
    require(fs.rename(new org.apache.hadoop.fs.Path(live),
      new org.apache.hadoop.fs.Path(live + "__retired")))
    // the next run FAILS its suite — before ADVICE r17 the quarantine
    // branch returned with no live artifact despite the retired copy
    val fail = IngestFlow.runDataIngestion(spark, Seq(payrollSrc), lake,
      Map("nyc_payroll_data" -> IngestFlow.TableExpectations(Seq(
        Check("impossible", lit(false))))))
    assert(fail.isEmpty)
    assert(fs.exists(new org.apache.hadoop.fs.Path(live)),
      "the dangling retired copy must be restored even when the gate " +
        "quarantines")
    assert(spark.read.parquet(live).count() == 6)
  }

  test("ingest recovery restores only the retired copy: a completed " +
      "staged batch with no live table is never promoted past a " +
      "failing suite") {
    import graft.operators.Expectations.Check
    val s = spark
    import s.implicits._
    val lake = java.nio.file.Files.createTempDirectory("graft-stg").toString
    val payrollSrc = IngestFlow.RestDataset(
      "nyc_payroll_data", "synthetic://payroll",
      Seq("title_description", "base_salary", "pay_basis",
        "regular_gross_paid", "total_ot_paid", "total_other_pay",
        "fiscal_year"),
      pageSize = 2, maxPages = 8,
      fetcherClass = classOf[PayrollPageFetcher].getName)
    // the crash state: a finished staged batch of violating rows, no
    // live table and no retired copy
    Seq(("SOFTWARE ENGINEER", "-1")).toDF("title_description", "base_salary")
      .write.parquet(s"$lake/_staging/nyc_payroll_data.parquet")
    val fail = IngestFlow.runDataIngestion(spark, Seq(payrollSrc), lake,
      Map("nyc_payroll_data" -> IngestFlow.TableExpectations(Seq(
        Check("base_salary_nonneg",
          col("base_salary").cast("double") >= 0),
        Check("impossible", lit(false))))))
    assert(fail.isEmpty)
    val live = new org.apache.hadoop.fs.Path(s"$lake/nyc_payroll_data.parquet")
    assert(!live.getFileSystem(spark.sessionState.newHadoopConf())
      .exists(live), "an unaudited staged batch must never become live")
  }
}
