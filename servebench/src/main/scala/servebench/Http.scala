package servebench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The closed-loop client: one request at a time over a kept-alive loopback
  * connection. Latency is timed up to the last byte of the response; parsing
  * happens after the clock stops. */
final class Http(port: Int) {
  final case class Reply(status: Int, body: Array[Byte], nanos: Long, requestBytes: Int) {
    def text: String = new String(body, UTF_8)
    def ms: Double = nanos / 1e6
    def ok: Boolean = status == 200
    def json: JValue = JsonMethods.parse(text)
  }

  def post(path: String, body: String = ""): Reply = {
    val bytes = body.getBytes(UTF_8)
    val t0 = System.nanoTime()
    val c = new URL(s"http://127.0.0.1:$port$path").openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    c.setFixedLengthStreamingMode(bytes.length)
    val os = c.getOutputStream
    try os.write(bytes) finally os.close()
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val out = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    Reply(status, out, System.nanoTime() - t0, bytes.length)
  }
}

object Json {
  /** Fixed 4-decimal vector text: any correct JSON number parser reads the
    * same double from it, so the model can hold exactly what the server
    * parsed. */
  def vec(v: Array[Float]): String = v.map(dec).mkString("[", ",", "]")

  private def dec(x: Float): String = "%.4f".formatLocal(java.util.Locale.ROOT, x)

  /** The float the server holds after parsing [[vec]]'s text. */
  def wire(v: Array[Float]): Array[Float] = v.map(x => java.lang.Double.parseDouble(dec(x)).toFloat)

  def str(s: String): String = JsonMethods.compact(JString(s))

  private def num(j: JValue): Double = j match {
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JString(s) => s.toDouble
    case other => throw new IllegalStateException(s"not a number: $other")
  }

  private def text(j: JValue): String = j match {
    case JString(s) => s
    case JInt(i) => i.toString
    case other => throw new IllegalStateException(s"not an id: $other")
  }

  /** (id, dist) of each row of a `{"rows":[...]}` search reply, in order. */
  def hits(reply: JValue): Seq[(String, Double)] = reply \ "rows" match {
    case JArray(rs) => rs.map(r => (text(r \ "id"), num(r \ "dist")))
    case other => throw new IllegalStateException(s"no rows in reply: $other")
  }

  /** Per-qid (id, dist) lists of a `/searchBatch` reply, ordered by rank. */
  def batchHits(reply: JValue): Map[String, Seq[(String, Double)]] = reply \ "rows" match {
    case JArray(rs) =>
      rs.map(r => (text(r \ "qid"), num(r \ "rn").toInt, text(r \ "id"), num(r \ "dist")))
        .groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._2).map(x => (x._3, x._4)) }
    case other => throw new IllegalStateException(s"no rows in reply: $other")
  }
}
