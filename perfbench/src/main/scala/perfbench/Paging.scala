package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.serve.{HttpApi, Serve}
import Main.{Ops, median}

/** One `GET /reports/{id}?offset=&limit=` request, and how many rows its
  * page must hold. */
final case class PageReq(id: Int, offset: Int, limit: Int, bulk: Boolean) {
  def path: String = s"/reports/$id?offset=$offset&limit=$limit"
}

/** One completed request as the client saw it. */
final case class PageResult(req: PageReq, latencyNs: Long, bytes: Int, error: Option[String])

/** The closed-loop `/reports` client: each client sends its next request
  * only after it has read and checked the previous response. */
object Paging {

  val BlockSize = 50

  /** The seeded request plan: blocks of 50 with a fixed composition — one
    * bulk-export page from the largest report, and 49 dashboard pages
    * (100–1000 rows) spread evenly over the four report ids, alternately
    * shallow (near the top) and deep (in the last tenth). The seed draws the
    * order inside a block and each page's offset and limit. */
  def plan(seed: Long, rows: Map[Int, Long], blocks: Int): IndexedSeq[PageReq] = {
    val rnd = new Random(seed * 31 + 17)
    (0 until blocks).flatMap { _ =>
      val big = rows.maxBy(_._2)._1
      val n0 = rows(big).toInt
      val bulkLimit = math.min(50000, n0)
      val bulk = PageReq(big, rnd.nextInt(n0 - bulkLimit + 1), bulkLimit, bulk = true)
      val dash = (0 until BlockSize - 1).map { j =>
        val id = j % 4
        val n = rows(id).toInt
        val limit = math.min(100 + rnd.nextInt(901), n)
        val offset =
          if ((j / 4) % 2 == 0) rnd.nextInt(math.min(2000, n - limit) + 1)
          else {
            val lo = math.max(0, n - limit - n / 10)
            lo + rnd.nextInt(n - limit - lo + 1)
          }
        PageReq(id, offset, limit, bulk = false)
      }
      rnd.shuffle(bulk +: dash)
    }
  }

  /** Rows in a page body: the API streams `[row,row,…]` with flat rows. */
  def rowCount(body: Array[Byte]): Int = {
    var n = 0
    var i = 1
    while (i < body.length - 1) {
      if (body(i) == '{' && (body(i - 1) == '[' || body(i - 1) == ',')) n += 1
      i += 1
    }
    n
  }

  /** A page fails when the status is not 200, the JSON array is not closed
    * (a truncated stream), or it holds the wrong number of rows. */
  def check(req: PageReq, status: Int, body: Array[Byte]): Option[String] =
    if (status != 200) Some(s"${req.path}: HTTP $status")
    else if (body.isEmpty || body(0) != '[' || body(body.length - 1) != ']')
      Some(s"${req.path}: truncated page (no closing ])")
    else {
      val n = rowCount(body)
      if (n != req.limit) Some(s"${req.path}: $n rows, expected ${req.limit}") else None
    }

  final case class PhaseOut(results: IndexedSeq[PageResult], wallS: Double,
      samples: IndexedSeq[(PageReq, Array[Byte])])

  /** Run `clients` closed-loop clients over the `count` requests of the
    * plan from `start`. Every `sampleEvery`-th dashboard page body is kept
    * for the equality check. `truncateOne` drops the closing bracket of the
    * first kept body (the self-test of the truncation check). */
  def run(port: Int, plan: IndexedSeq[PageReq], start: Int, clients: Int, count: Int,
      sampleEvery: Int, truncateOne: Boolean): PhaseOut = {
    val next = new AtomicInteger(0)
    val results = ArrayBuffer[PageResult]()
    val samples = ArrayBuffer[(PageReq, Array[Byte])]()
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
          .connectTimeout(java.time.Duration.ofSeconds(10)).build()
        var i = next.getAndIncrement()
        while (i < count) {
          val req = plan((start + i) % plan.size)
          val http = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${req.path}"))
            .timeout(java.time.Duration.ofSeconds(120)).GET().build()
          val s0 = System.nanoTime()
          val res =
            try {
              val resp = client.send(http, HttpResponse.BodyHandlers.ofByteArray())
              val lat = System.nanoTime() - s0
              var body = resp.body()
              val keep = !req.bulk && i % sampleEvery == 0
              if (keep && truncateOne) samples.synchronized {
                if (samples.isEmpty) body = body.dropRight(1)
              }
              if (keep) samples.synchronized(samples += (req -> body))
              PageResult(req, lat, body.length, check(req, resp.statusCode(), body))
            } catch {
              case e: Exception =>
                PageResult(req, System.nanoTime() - s0, 0, Some(s"${req.path}: $e"))
            }
          results.synchronized(results += res)
          i = next.getAndIncrement()
        }
      }, s"report-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    PhaseOut(results.toIndexedSeq, (System.nanoTime() - t0) / 1e9, samples.toIndexedSeq)
  }

  /** Nearest-rank percentile. */
  def pct(xs: scala.collection.Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  def sameAsServe(spark: SparkSession, req: PageReq,
      body: Array[Byte]): Option[String] = {
    val want = Serve.fetchJson(spark, req.id, req.offset, req.limit)
      .mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8)
    if (java.util.Arrays.equals(want, body)) None
    else Some(s"${req.path}: HTTP page differs from Serve.fetchJson " +
      s"(${body.length} vs ${want.length} bytes)")
  }
}

/** The `/reports` paging phase over the gold the chain just wrote: two
  * plan blocks with 1 client, then the next two with 4 clients. */
final class PagingPhase(spark: SparkSession, args: Main.Args) {
  final case class Out(e2e: Seq[(String, (Double, String))], layer: Seq[(String, (Double, String))],
      c1: Paging.PhaseOut, pages: Int)

  private val api: HttpApi.Api = HttpApi.start(spark, port = 0)

  def stop(): Unit = api.stop()

  /** Pages per phase. */
  private val count = if (args.size.name == "tiny") 20 else 2 * Paging.BlockSize

  private lazy val plan: IndexedSeq[PageReq] = Trace.span("serve.plan") {
    Paging.plan(args.seed, Serve.registry.map(d => d.id -> spark.table(d.table).count()).toMap, blocks = 4)
  }._1

  private def phase(name: String, clients: Int, start: Int, truncate: Boolean) = {
    val (out, span) = Trace.phase(name)(Paging.run(api.port, plan, start, clients, count,
      sampleEvery = 23, truncateOne = truncate))
    out.results.foreach(r => Ops.check(r.error))
    Trace.span("checks") {
      out.samples.foreach { case (req, body) => Ops.check(Paging.sameAsServe(spark, req, body)) }
    }
    (out, span)
  }

  /** The 1-client phase: the plan's first `count` pages. */
  def c1(truncate: Boolean): (Paging.PhaseOut, SpanStats) = phase("serve.c1", 1, 0, truncate)

  def run(): Out = {
    val (c1, c1span) = this.c1(args.break.contains("page"))
    val (c4, _) = phase("serve.c4", 4, count, truncate = false)
    def ms(o: Paging.PhaseOut) = o.results.map(_.latencyNs / 1e6)
    Main.note(f"paging: c1 ${c1.results.size} pages in ${c1.wallS}%.1f s, c4 ${c4.results.size} pages in ${c4.wallS}%.1f s")
    val e2e = Seq(
      "page_c1_p50_ms" -> (Paging.pct(ms(c1), 0.5), "ms"),
      "page_c1_p90_ms" -> (Paging.pct(ms(c1), 0.9), "ms"),
      "page_c4_p90_ms" -> (Paging.pct(ms(c4), 0.9), "ms"),
      "pages_c4_per_s" -> (c4.results.size / c4.wallS, "1/s"))
    val layer =
      if (!args.trace) Nil
      else {
        val direct = plan.filterNot(_.bulk).take(20).map { req =>
          val (r, _) = Trace.span("serve.direct") {
            val t0 = System.nanoTime()
            val it = Serve.fetchJsonIterator(spark, req.id, req.offset, req.limit)
            it.hasNext
            val t1 = System.nanoTime()
            var n = 0
            while (it.hasNext) { it.next(); n += 1 }
            Ops.check(if (n == req.limit) None else Some(s"direct ${req.path}: $n rows"))
            ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
          }
          r
        }
        val n = c1.results.size.toDouble
        Seq(
          "serve.first_row_ms" -> (median(direct.map(_._1)), "ms"),
          "serve.drain_ms" -> (median(direct.map(_._2)), "ms"),
          "serve.http_overhead_ms" -> (Paging.pct(ms(c1), 0.5) - median(direct.map(d => d._1 + d._2)), "ms"),
          "serve.jobs_per_page" -> (c1span.jobs.get / n, "count"),
          "serve.cpu_ms_per_page" -> (c1span.cpuNs.get / 1e6 / n, "ms"),
          "serve.kb_per_page" -> (c1.results.map(_.bytes.toDouble).sum / n / 1024, "KiB"),
          "serve.c4_wait_ms" -> (Paging.pct(ms(c4), 0.5) - Paging.pct(ms(c1), 0.5), "ms"))
      }
    Out(e2e, layer, c1, c1.results.size + c4.results.size)
  }
}
