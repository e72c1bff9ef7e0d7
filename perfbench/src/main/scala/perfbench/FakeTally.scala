package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_16LE
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A fake Tally XML server over a [[Company]]: it answers on loopback
  * HTTP, one thread, in UTF-16LE, as Tally does. It interprets the
  * requests the loader generates: the collection route (`<TYPE>` plus
  * the `<REPEAT>` descent), each field's SET expression (the first
  * `$Attribute` it reads, or a `$Guid:Collection:$Name` lookup), the
  * `$AlterID > n` filter, the auto-numbering filter of the voucher
  * number re-pull, and the AlterId watermark probe.
  *
  * Row values are rendered when the company changes, so a request
  * only filters and concatenates. `serveNanos` is the time spent
  * answering, the guard that the fake stays cheap and flat. */
final class FakeTally(company: Company) extends AutoCloseable {
  @volatile var serveNanos = 0L
  @volatile var requests = 0L

  private val typeRe =
    "<COLLECTION NAME=\"MyCollection\"><TYPE>([A-Za-z]+)</TYPE>".r
  private val repeatRe = "<REPEAT>MyLine\\d+ : ([A-Za-z]+)</REPEAT>".r
  private val fieldRe = "(?s)<FIELD NAME=\"Fld\\d+\"><SET>(.*?)</SET>".r
  private val filterRe =
    "(?s)<SYSTEM TYPE=\"Formulae\" NAME=\"Fltr\\d+\">(.*?)</SYSTEM>".r
  private val alterGtRe = """\$AlterID > (-?\d+)""".r
  private val lookupRe = """\$Guid:(\w+):\$(\w+)""".r
  private val fieldRefRe = """(?<!\$)\$(?!\$)([A-Za-z_][A-Za-z0-9_]*)""".r
  private val openTag = (1 to 99).map(i => f"<F$i%02d>")
  private val closeTag = (1 to 99).map(i => f"</F$i%02d>")

  /** The attribute a SET expression reads. */
  private def attribute(set: String): String =
    lookupRe.findFirstMatchIn(set) match {
      case Some(m) => s"Guid:${m.group(1)}:${m.group(2)}"
      case None => fieldRefRe.findFirstMatchIn(set).fold("")(_.group(1))
    }

  def respond(request: String): String = company.synchronized {
    if (request.contains("<ID>AlterIdProbe</ID>"))
      return s""""${company.masterAlterId}","${company.txnAlterId}"""" +
        "\r\n"
    val route = (typeRe.findFirstMatchIn(request).get.group(1) +:
      repeatRe.findAllMatchIn(request).map(_.group(1))
        .filterNot(_ == "MyCollection").toSeq).mkString(".")
    val layout = Company.Routes.getOrElse(route, IndexedSeq.empty)
    val cols = fieldRe.findAllMatchIn(request)
      .map(m => layout.indexOf(attribute(m.group(1)))).toArray
    val filters = filterRe.findAllMatchIn(request).map(_.group(1)).toSeq
    val floor = filters.flatMap(f => alterGtRe.findFirstMatchIn(f))
      .map(_.group(1).toLong).headOption
    val autoOnly = filters.exists(_.contains("NumberingMethod"))
    val nested = route.contains('.')
    val sb = new java.lang.StringBuilder(1 << 16)
    sb.append("<ENVELOPE>")
    company.served(route).foreach { s =>
      if (floor.forall(s.alterId > _) && (!autoOnly || s.autoNumbered)) {
        if (nested) sb.append("\r\n<FLDBLANK></FLDBLANK>")
        s.rows.foreach { row =>
          var i = 0
          while (i < cols.length) {
            sb.append("\r\n ").append(openTag(i))
            if (cols(i) >= 0) sb.append(row(cols(i)))
            sb.append(closeTag(i))
            i += 1
          }
        }
      }
    }
    sb.append("\r\n</ENVELOPE>\r\n").toString
  }

  private val server = HttpServer.create(
    new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  private val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    try {
      val req = new String(ex.getRequestBody.readAllBytes(), UTF_16LE)
      val body = if (req.isEmpty) Array.emptyByteArray
        else respond(req).getBytes(UTF_16LE)
      ex.getResponseHeaders.set("Content-Type", "text/xml;charset=utf-16")
      ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length)
      if (body.nonEmpty) ex.getResponseBody.write(body)
    } finally {
      ex.close()
      serveNanos += System.nanoTime() - t0
      requests += 1
    }
  })
  server.start()

  def port: Int = server.getAddress.getPort

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
