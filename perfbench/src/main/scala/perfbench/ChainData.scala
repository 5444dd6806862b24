package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One payroll row as the Socrata payroll dataset serves it. */
final case class Payroll(title: String, salary: Double, payBasis: String,
    gross: Double, ot: Double, other: Double, year: Int)

/** One job-postings row. `postUntil = None` is a row Socrata serves without
  * the field (the P5 null the match flow fills). */
final case class Posting(title: String, from: Double, to: Double,
    postingDate: String, postUntil: Option[String])

/** One week of the two REST sources. */
final case class Week(payroll: IndexedSeq[Payroll], postings: IndexedSeq[Posting])

/** A planted title pair with its expected presence in J1 (and, through the
  * matched title, in J2 and gold) after the cold run and after the rerun.
  * The payroll salary is unique to the pair, so the pair is found by
  * (business_title, title_description, base_salary). */
final case class Planted(kind: String, posting: String, payrollTitle: String,
    salary: Double, inCold: Boolean, inRerun: Boolean)

/** The sizes of the generated chain input. */
final case class Size(name: String, payrollRows: Int, titles: Int,
    postings: Int, hotPostings: Int, newTitles: Int, pageRows: Int)

object Size {
  /** `weekly_chain`'s input: many distinct titles, so the fuzzy match
    * carries the chain. The reference's v2.1 J1 output is 562,898 rows;
    * this size produces about 2% of that (every run prints the ratio as
    * `j1_ratio`), so one run fits the per-run time budget. */
  val chain: Size = Size("chain", payrollRows = 60000, titles = 600,
    postings = 700, hotPostings = 2, newTitles = 40, pageRows = 50000)
  /** `report_paging`'s input: fewer titles with more hot postings, so the
    * match is lighter and the gold tables the pages read are larger. */
  val serve: Size = Size("serve", payrollRows = 60000, titles = 200,
    postings = 300, hotPostings = 6, newTitles = 20, pageRows = 50000)
  /** The self-test size: the same shapes, a few seconds per chain. */
  val tiny: Size = Size("tiny", payrollRows = 6000, titles = 150,
    postings = 300, hotPostings = 1, newTitles = 10, pageRows = 2000)

  def apply(workload: String, size: String): Size = (workload, size) match {
    case (_, "tiny") => tiny
    case ("weekly_chain", "full") => chain
    case ("report_paging", "full") => serve
    case other => throw new IllegalArgumentException(s"unknown size $other")
  }
}

final case class ChainData(cold: Week, rerun: Week,
    lightcast: IndexedSeq[(String, Int, Double)], planted: IndexedSeq[Planted])

/** The seeded `weekly_chain` generator.
  *
  * The title universe, its Zipf rank counts, the postings' target ranks and
  * the include/exclude band schedule are fixed, so every seed produces the
  * same shape (row counts, match fan-out, page count). The seed draws
  * everything else: salaries, bands inside their class, typos, dates, row
  * order, the planted pairs' titles and the weekly delta.
  */
object ChainData {

  private val levels = IndexedSeq("Assistant", "Associate", "Senior",
    "Principal", "Junior", "Chief", "Deputy", "Supervising", "Lead", "Staff",
    "Executive", "Administrative")
  private val disciplines = IndexedSeq("Civil", "Mechanical", "Electrical",
    "Environmental", "Structural", "Data", "Budget", "Public Health",
    "Community", "Claims", "Housing", "Traffic", "Forensic", "Payroll",
    "Procurement", "Parks", "Fire Safety", "Water", "Transit", "Legal",
    "Benefits", "Records", "Energy", "Laboratory", "Information Security",
    "Urban Planning")
  private val roles = IndexedSeq("Engineer", "Analyst", "Inspector",
    "Specialist", "Coordinator", "Manager", "Planner", "Technician",
    "Investigator", "Auditor", "Scientist", "Counsel", "Officer", "Architect",
    "Consultant", "Accountant")

  /** Every level × discipline × role title, in a fixed shuffled order: the
    * first `titles` are the payroll universe by Zipf rank, the next
    * `newTitles` first appear in the weekly delta. */
  private def universe(size: Size): IndexedSeq[String] = {
    val all = for (l <- levels; d <- disciplines; r <- roles) yield s"$l $d $r"
    val shuffled = new Random(7).shuffle(all)
    require(size.titles + size.newTitles <= shuffled.size)
    shuffled.take(size.titles + size.newTitles)
  }

  /** Zipf (s = 1) payroll row counts by rank, summing to exactly `rows`. */
  private def zipfCounts(rows: Int, titles: Int): Array[Int] = {
    val w = Array.tabulate(titles)(r => 1.0 / (r + 1))
    val total = w.sum
    val c = w.map(x => math.max(1, (rows * x / total).toInt))
    var left = rows - c.sum
    var i = 0
    while (left > 0) { c(i % titles) += 1; left -= 1; i += 1 }
    c
  }

  /** A fixed salary level per title rank, 40k–190k. */
  private def level(rank: Int): Double = 40000.0 + 1000.0 * ((rank * 7919L) % 151)

  private def money(x: Double): Double = math.round(x * 100) / 100.0

  private val syllables = IndexedSeq("vel", "mor", "qua", "dri", "zon", "tek",
    "lum", "bar", "sik", "pho", "gre", "nal", "tur", "vix", "oda", "ken",
    "rul", "sta", "mip", "cor", "fen", "yal", "wob", "gat")

  /** A made-up three-word title that no universe title or other made-up
    * title fuzzy-matches. */
  private def madeUp(rnd: Random, seen: scala.collection.mutable.Set[String]): String = {
    def word = (0 until 3).map(_ => syllables(rnd.nextInt(syllables.size)))
      .mkString.capitalize
    var t = ""
    while (t.isEmpty || seen.contains(t)) t = s"$word $word $word"
    seen += t
    t
  }

  private def titleVariant(title: String, i: Int): String = i % 20 match {
    case 0 | 1 => title.toUpperCase
    case 2 => title + "."
    case _ => title
  }

  private def typo(title: String, rnd: Random): String = {
    val words = title.split(" ")
    val w = words.indices.maxBy(words(_).length)
    val word = words(w)
    val pos = 1 + rnd.nextInt(word.length - 1)
    val c = (((word(pos).toLower - 'a' + 1 + rnd.nextInt(24)) % 26) + 'a').toChar
    words(w) = word.updated(pos, c)
    words.mkString(" ")
  }

  private def reorder(title: String): String = {
    val w = title.split(" ")
    (w.drop(1) :+ w.head).mkString(" ")
  }

  private val start = java.time.LocalDate.of(2024, 1, 1)
  private val untilFmt = java.time.format.DateTimeFormatter
    .ofPattern("dd-MMM-yyyy", java.util.Locale.ENGLISH)

  private def postingDates(rnd: Random, malformed: Boolean,
      nullUntil: Boolean): (String, Option[String]) = {
    val d = start.plusDays(rnd.nextInt(360))
    val date = if (malformed) f"${d.getDayOfMonth}%02d/${d.getMonthValue}%02d/${d.getYear}"
      else s"${d}T00:00:00.000"
    val until = if (nullUntil) None
      else Some(d.plusDays(30 + rnd.nextInt(60)).format(untilFmt).toUpperCase)
    (date, until)
  }

  private def payrollRow(title: String, salary: Double, year: Int,
      rnd: Random): Payroll =
    Payroll(title, money(salary), "per Annum", money(salary * (0.9 + 0.15 * rnd.nextDouble())),
      money(rnd.nextDouble() * 8000), money(rnd.nextDouble() * 3000), year)

  /** An including band holds about the middle two thirds of a title's
    * salaries; an excluding band sits above all of them. */
  private def band(lvl: Double, include: Boolean, rnd: Random): (Double, Double) =
    if (include) (money(lvl * (0.9 + 0.02 * rnd.nextDouble())),
      money(lvl * (1.08 + 0.02 * rnd.nextDouble())))
    else (money(lvl * (1.25 + 0.05 * rnd.nextDouble())),
      money(lvl * (1.40 + 0.05 * rnd.nextDouble())))

  def generate(seed: Long, size: Size): ChainData = {
    val rnd = new Random(seed)
    val uni = universe(size)
    val counts = zipfCounts(size.payrollRows, size.titles)
    val seen = scala.collection.mutable.Set[String]()

    // ---- cold week: payroll ----
    val payroll = ArrayBuffer[Payroll]()
    var row = 0
    for (r <- 0 until size.titles; _ <- 0 until counts(r)) {
      val lvl = level(r)
      payroll += payrollRow(titleVariant(uni(r), row),
        lvl * (0.85 + 0.3 * rnd.nextDouble()), 2023 + row % 3, rnd)
      row += 1
    }

    // ---- cold week: postings on a fixed rank/kind/band schedule ----
    def targetRank(i: Int, related: Int): Int =
      if (related < size.hotPostings) related
      else 20 + (i * 7) % (size.titles - 20)
    val postings = ArrayBuffer[Posting]()
    var related = 0
    for (i <- 0 until size.postings) {
      val kind = i % 10
      val (date, until) = postingDates(rnd, i % 97 == 5, i % 13 == 0)
      if (kind >= 6) {
        val t = madeUp(rnd, seen)
        postings += Posting(t, money(40000 + rnd.nextInt(100000)),
          money(150000 + rnd.nextInt(50000)), date, until)
      } else {
        val r = targetRank(i, related)
        related += 1
        val t = kind match {
          case 0 | 1 => uni(r)
          case 2 => uni(r).toUpperCase
          case 3 => uni(r) + "."
          case 4 => reorder(uni(r))
          case _ => typo(uni(r), rnd)
        }
        val (from, to) = band(level(r), i % 5 != 0, rnd)
        postings += Posting(t, from, to, date, until)
      }
    }

    // ---- planted pairs ----
    val planted = ArrayBuffer[Planted]()
    val plantedPay = ArrayBuffer[(Planted, Int)]()
    val plantedJob = ArrayBuffer[(Planted, Posting)]()
    // the rerun week's replacements for planted rows that change
    val rerunPay = scala.collection.mutable.Map[String, Payroll]()
    val rerunJob = scala.collection.mutable.Map[String, Posting]()
    val newPay = ArrayBuffer[Payroll]()
    val newJob = ArrayBuffer[Posting]()
    var salaryCents = 0
    def plant(kind: String, variant: Int, inBand: Boolean, year: Int,
        malformed: Boolean, nullUntil: Boolean, inCold: Boolean,
        inRerun: Boolean): (Planted, Payroll, Posting) = {
      val canon = madeUp(rnd, seen)
      val shown = variant match {
        case 0 => canon
        case 1 => canon.toUpperCase
        case _ => reorder(canon)
      }
      val lvl = 60000.0 + rnd.nextInt(80000)
      salaryCents += 1
      // unique cents keep the planted payroll row findable by salary
      val salary = money(math.floor(lvl) + salaryCents / 100.0)
      val (from, to) =
        if (inBand) (money(lvl * 0.9), money(lvl * 1.1))
        else (money(lvl * 1.2), money(lvl * 1.3))
      val (date, until) = postingDates(rnd, malformed, nullUntil)
      val p = Planted(kind, shown, canon, salary, inCold, inRerun)
      planted += p
      (p, payrollRow(canon, salary, year, rnd), Posting(shown, from, to, date, until))
    }
    def coldPlant(kind: String, n: Int, inBand: Boolean, year: Int = 2024,
        malformed: Boolean = false, nullUntil: Boolean = false,
        inRerun: Option[Boolean] = None): Unit =
      for (v <- 0 until n) {
        val expect = inBand && year >= 2024 && !malformed
        val (p, pay, job) = plant(kind, v % 3, inBand, year, malformed,
          nullUntil, expect, inRerun.getOrElse(expect))
        payroll += pay
        postings += job
        kind match {
          // the delta narrows the posting's band so the pair leaves J1
          case "drop" => rerunJob(job.title) =
            job.copy(from = money(pay.salary * 1.2), to = money(pay.salary * 1.3))
          // the delta raises the payroll salary into the band
          case "gain" => rerunPay(pay.title) =
            pay.copy(salary = money((job.from + job.to) / 2 + salaryCents / 100.0))
          case _ =>
        }
      }
    coldPlant("in", 8, inBand = true)
    coldPlant("out", 6, inBand = false)
    coldPlant("year", 2, inBand = true, year = 2023)
    coldPlant("p4", 2, inBand = true, malformed = true)
    coldPlant("p5", 2, inBand = true, nullUntil = true)
    coldPlant("drop", 2, inBand = true, inRerun = Some(false))
    coldPlant("gain", 2, inBand = false, inRerun = Some(true))
    for (v <- 0 until 3) {
      val (_, pay, job) = plant("new", v, inBand = true, 2025, malformed = false,
        nullUntil = false, inCold = false, inRerun = true)
      newPay += pay
      newJob += job
    }
    // the "gain" pairs must find their new salary unique as well
    val gainFix = planted.map {
      case p if p.kind == "gain" => p.copy(salary = rerunPay(p.payrollTitle).salary)
      case p => p
    }

    // ---- rerun week: changed and new rows ----
    val payroll2 = payroll.map { p =>
      rerunPay.getOrElse(p.title, p) match {
        case q if q ne p => q
        case q if rnd.nextInt(50) == 0 && !seen.contains(q.title) =>
          q.copy(salary = money(q.salary * (0.95 + 0.13 * rnd.nextDouble())))
        case q => q
      }
    }
    for (r <- 0 until size.titles; _ <- 0 until counts(r) / 25)
      payroll2 += payrollRow(titleVariant(uni(r), r), level(r) * (0.85 + 0.3 * rnd.nextDouble()),
        2024 + r % 2, rnd)
    for (k <- 0 until size.newTitles; j <- 0 until 30) {
      val r = size.titles + k
      payroll2 += payrollRow(uni(r), level(r) * (0.85 + 0.3 * rnd.nextDouble()),
        2024 + j % 2, rnd)
    }
    payroll2 ++= newPay
    val postings2 = postings.map { p =>
      rerunJob.getOrElse(p.title, p) match {
        case q if q ne p => q
        case q if rnd.nextInt(33) == 0 && !seen.contains(q.title) =>
          q.copy(from = money(q.from * 0.97), to = money(q.to * 1.02))
        case q => q
      }
    }
    for (i <- 0 until size.postings / 12) {
      val r = if (i % 3 == 0) size.titles + i % size.newTitles else 20 + (i * 11) % (size.titles - 20)
      val (date, until) = postingDates(rnd, malformed = false, nullUntil = false)
      val (from, to) = band(level(r), include = true, rnd)
      postings2 += Posting(uni(r), from, to, date, until)
    }
    postings2 ++= newJob

    // ---- lightcast: discipline/role occupations, plus one per planted title ----
    val occupations = (for (d <- disciplines; r <- roles) yield s"$d $r") ++
      gainFix.map(_.payrollTitle)
    val lightcast = occupations.map(o =>
      (o, 50 + rnd.nextInt(5000), money(10 + rnd.nextDouble() * 80)))

    ChainData(
      Week(rnd.shuffle(payroll).toIndexedSeq, rnd.shuffle(postings).toIndexedSeq),
      Week(rnd.shuffle(payroll2).toIndexedSeq, rnd.shuffle(postings2).toIndexedSeq),
      lightcast.toIndexedSeq, gainFix.toIndexedSeq)
  }

  // ---- Socrata-shaped JSON (every value a string, nulls omitted) ----

  private def str(sb: java.lang.StringBuilder, k: String, v: String, first: Boolean): Unit = {
    if (!first) sb.append(',')
    sb.append('"').append(k).append("\":\"").append(v).append('"')
  }

  private def num(x: Double): String =
    java.math.BigDecimal.valueOf(x).setScale(2, java.math.RoundingMode.HALF_UP).toPlainString

  def payrollJson(p: Payroll): String = {
    val sb = new java.lang.StringBuilder(200)
    sb.append('{')
    str(sb, "title_description", p.title, first = true)
    str(sb, "base_salary", num(p.salary), first = false)
    str(sb, "pay_basis", p.payBasis, first = false)
    str(sb, "regular_gross_paid", num(p.gross), first = false)
    str(sb, "total_ot_paid", num(p.ot), first = false)
    str(sb, "total_other_pay", num(p.other), first = false)
    str(sb, "fiscal_year", p.year.toString, first = false)
    sb.append('}').toString
  }

  def postingJson(p: Posting): String = {
    val sb = new java.lang.StringBuilder(200)
    sb.append('{')
    str(sb, "business_title", p.title, first = true)
    str(sb, "salary_range_from", num(p.from), first = false)
    str(sb, "salary_range_to", num(p.to), first = false)
    str(sb, "posting_date", p.postingDate, first = false)
    p.postUntil.foreach(u => str(sb, "post_until", u, first = false))
    sb.append('}').toString
  }

  val payrollFields: Seq[String] = Seq("title_description", "base_salary",
    "pay_basis", "regular_gross_paid", "total_ot_paid", "total_other_pay",
    "fiscal_year")
  val postingFields: Seq[String] = Seq("business_title", "salary_range_from",
    "salary_range_to", "posting_date", "post_until")
}
