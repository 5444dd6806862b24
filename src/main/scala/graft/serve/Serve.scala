package graft.serve

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Serving layer: the reference's dataset registry + paginated fetch
  * (/root/reference/api/fetch_data.py:13-26,42-69; api/main.py:33-51),
  * re-expressed over a long-lived SparkSession.
  *
  * Determinism note the reference glosses over (SURVEY §7.4 item 4): its
  * `SELECT * ... OFFSET ? LIMIT ?` relies on stored table order; here every
  * page is explicitly sorted by the dataset's sort key.
  */
object Serve {

  /** The reference's DATASET_CONFIG (api/fetch_data.py:13-26). */
  final case class Dataset(id: Int, table: String, sortKey: String, desc: Boolean = true)

  val registry: Seq[Dataset] = Seq(
    Dataset(0, "gold.nyc_salary_matches", "match_score"),
    Dataset(1, "gold.nyc_matched_job_posting_duration_soc", "median_posting_duration"),
    Dataset(2, "gold.nyc_salary_matches_unique_job_posting_title", "match_score"),
    Dataset(3, "gold.nyc_matched_job_posting_duration_soc_unique_title",
      "median_posting_duration"))

  /** GET /reports — registry listing with the GOLD. prefix stripped
    * (api/fetch_data.py:84-94). */
  def reportsList: Seq[(Int, String)] =
    registry.map(d => d.id -> d.table.stripPrefix("gold."))

  private def datasetOf(id: Int): Dataset =
    registry.find(_.id == id)
      .getOrElse(throw new IllegalArgumentException(s"unknown dataset id $id"))

  /** Deterministic ordering for pages: the sort key alone is massively
    * tied (rounded int scores), so every remaining column joins the
    * ordering and page boundaries are stable across independent requests
    * (unique up to fully-identical rows). */
  private def ordered(t: DataFrame, ds: Dataset): DataFrame = {
    val primary = if (ds.desc) col(ds.sortKey).desc else col(ds.sortKey).asc
    val tiebreak = t.columns.toSeq.filterNot(_ == ds.sortKey).sorted.map(col(_).asc)
    t.orderBy(primary +: tiebreak: _*)
  }

  /** GET /reports/{id} — one page; defaults mirror api/main.py:45. */
  def fetchDataset(spark: SparkSession, id: Int,
      offset: Int = 0, limit: Int = 750000): DataFrame = {
    val ds = datasetOf(id)
    ordered(spark.table(ds.table), ds).offset(offset).limit(limit)
  }

  /** The reference API's page size (api/main.py:45) — also the hard cap
    * below: a page is collected onto the driver, so an uncapped request
    * scales driver heap with client input. 750k rows of the widest gold
    * table is ~100 MB of JSON — comfortable; an accidental MaxValue
    * request would not be. */
  val defaultMaxPageRows: Int = 750000

  /** JSON page for an HTTP layer (reference returns list-of-dicts JSON).
    * `limit` is clamped to `maxPageRows`; clients page with `offset` for
    * more (same contract as the reference, which never returns more than
    * one 750k page per request). */
  def fetchJson(spark: SparkSession, id: Int, offset: Int, limit: Int,
      maxPageRows: Int = defaultMaxPageRows): Seq[String] =
    fetchDataset(spark, id, offset, math.min(limit, maxPageRows))
      .toJSON.collect().toSeq

  /** Same page as [[fetchJson]] but as a driver-side iterator
    * (`toLocalIterator`): partitions of the sorted page are fetched one at
    * a time, so an HTTP layer can stream a 750k-row page to the socket
    * holding at most one partition of JSON strings — not the whole ~100 MB
    * page — on the driver heap. */
  def fetchJsonIterator(spark: SparkSession, id: Int, offset: Int, limit: Int,
      maxPageRows: Int = defaultMaxPageRows): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    fetchDataset(spark, id, offset, math.min(limit, maxPageRows))
      .toJSON.toLocalIterator().asScala
  }

  /** Dashboard score-range filter (streamlit/app.py:65-73 — the slider's
    * `between`). */
  def filterScoreRange(df: DataFrame, scoreCol: String, lo: Double,
      hi: Double): DataFrame =
    df.where(col(scoreCol).try_cast("double").between(lo, hi))

  /** Dashboard metrics: (mean, min, max) of the score column
    * (streamlit/app.py:56-57,90); None when the table is empty or the
    * column all-null (the aggregates come back NULL). */
  def scoreStats(df: DataFrame, scoreCol: String): Option[(Double, Double, Double)] = {
    val r = df.agg(avg(col(scoreCol).try_cast("double")),
      min(col(scoreCol).try_cast("double")), max(col(scoreCol).try_cast("double"))).head()
    if (r.isNullAt(0)) None
    else Some((r.getDouble(0), r.getDouble(1), r.getDouble(2)))
  }

  /** One dashboard section (streamlit/app.py:40-92): optional score-range
    * filter + stats over the FILTERED rows + a bounded page of them in
    * the dataset's deterministic order. The two counts and the stats are
    * distributed aggregates; only `maxRows` rows reach the driver. */
  final case class DashboardSection(total: Long, filtered: Long,
      stats: Option[(Double, Double, Double)], rows: Seq[String])

  def dashboardSection(spark: SparkSession, id: Int, scoreCol: String,
      lo: Option[Double], hi: Option[Double],
      maxRows: Int = 1000): DashboardSection = {
    val ds = datasetOf(id)
    val full = spark.table(ds.table)
    val sc = col(scoreCol).try_cast("double")
    // ONE conditional aggregate serves the unfiltered total, the filtered
    // count AND the filtered stats — a filtered dashboard request must not
    // pay a second table scan just for the "of M total" figure (a
    // dashboard request is a hot path; at 100× gold size the extra scan
    // would double its latency)
    val pred = (lo, hi) match {
      case (Some(l), Some(h)) => sc.between(l, h)
      case _ => lit(true)
    }
    val r = full.agg(count(lit(1)), count(when(pred, lit(1))),
      avg(when(pred, sc)), min(when(pred, sc)), max(when(pred, sc))).head()
    val total = r.getLong(0)
    val nFiltered = r.getLong(1)
    val stats = if (r.isNullAt(2)) None
      else Some((r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    DashboardSection(total, nFiltered, stats,
      ordered(full.where(pred), ds).limit(maxRows).toJSON.collect().toSeq)
  }
}
