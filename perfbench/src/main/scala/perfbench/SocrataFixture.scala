package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

/** A loopback HTTP/1.1 server that answers Socrata paging requests
  * (`GET /<dataset>?$limit=N&$offset=M`) from pages rendered before it
  * starts, so serving costs a lookup and a socket write. It counts what a
  * REST client costs the server: requests, non-empty pages, accepted
  * connections and body bytes.
  */
final class SocrataFixture(weeks: Map[String, Week], pageRows: Int) {

  /** Pre-rendered pages per week and dataset: page i holds rows
    * [i * pageRows, (i + 1) * pageRows). */
  private final class Rendered(week: Week) {
    private def render(rows: IndexedSeq[String]): IndexedSeq[Array[Byte]] =
      rows.grouped(pageRows).map(_.mkString("[", ",", "]")
        .getBytes(StandardCharsets.UTF_8)).toIndexedSeq
    val rows: Map[String, IndexedSeq[String]] = Map(
      "payroll" -> week.payroll.map(ChainData.payrollJson),
      "jobs" -> week.postings.map(ChainData.postingJson))
    val pages: Map[String, IndexedSeq[Array[Byte]]] = rows.map { case (k, v) => k -> render(v) }
  }

  private val rendered: Map[String, Rendered] = weeks.map { case (k, w) => k -> new Rendered(w) }
  private val current = new AtomicReference[Rendered](rendered.values.head)
  private val empty = "[]".getBytes(StandardCharsets.UTF_8)

  val requests = new AtomicLong
  val pages = new AtomicLong
  val connections = new AtomicLong
  val bytes = new AtomicLong

  def resetCounters(): Unit = Seq(requests, pages, connections, bytes).foreach(_.set(0))

  /** Which week the next requests see. */
  def serve(week: String): Unit = current.set(rendered(week))

  /** Pages the REST reader must plan to reach the end of `dataset`. */
  def pageCount(week: String, dataset: String): Int = rendered(week).pages(dataset).size

  private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  private val open = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  private val handlers = java.util.concurrent.Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "socrata-fixture")
    t.setDaemon(true)
    t
  }
  private val acceptor = new Thread(() => acceptLoop(), "socrata-fixture-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def url(dataset: String): String = s"http://127.0.0.1:${server.getLocalPort}/$dataset"

  private def acceptLoop(): Unit =
    try while (true) {
      val s = server.accept()
      connections.incrementAndGet()
      open.add(s)
      handlers.execute(() => handle(s))
    } catch { case _: SocketException => () } // closed by stop()

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    if (c == -1 && sb.length == 0) null else sb.toString
  }

  private def handle(s: Socket): Unit =
    try {
      s.setSoTimeout(60000)
      val in = new BufferedInputStream(s.getInputStream)
      val out = new BufferedOutputStream(s.getOutputStream, 1 << 16)
      var line = readLine(in)
      while (line != null) {
        val target = line.split(' ')(1)
        var h = readLine(in)
        while (h != null && h.nonEmpty) h = readLine(in)
        val body = page(target)
        requests.incrementAndGet()
        if (body ne empty) pages.incrementAndGet()
        bytes.addAndGet(body.length)
        out.write((s"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes(StandardCharsets.US_ASCII))
        out.write(body)
        out.flush()
        line = if (h == null) null else readLine(in)
      }
    } catch {
      case _: java.io.IOException => () // client went away or idle timeout
    } finally {
      open.remove(s)
      s.close()
    }

  private def page(target: String): Array[Byte] = {
    val q = target.indexOf('?')
    val dataset = target.substring(1, if (q < 0) target.length else q)
    val params = (if (q < 0) "" else target.substring(q + 1)).split('&')
      .flatMap(kv => kv.split("=", 2) match {
        case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> v)
        case _ => None
      }).toMap
    val limit = params.get("$limit").map(_.toInt).getOrElse(1000)
    val offset = params.get("$offset").map(_.toInt).getOrElse(0)
    val w = current.get()
    val all = w.rows(dataset)
    if (offset >= all.size || limit <= 0) empty
    else if (offset % pageRows == 0 && limit >= pageRows) w.pages(dataset)(offset / pageRows)
    else all.slice(offset, math.min(all.size, offset + limit))
      .mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8)
  }

  def stop(): Unit = {
    server.close()
    open.forEach(s => s.close())
    handlers.shutdownNow()
    acceptor.join(5000)
    handlers.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS)
  }
}
