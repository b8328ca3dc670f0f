package graft.serve

import java.net.{HttpURLConnection, URI}
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftServer.httpServer]] turns Nagle off on accepted sockets and keeps
  * an operator's explicit setting. Each case runs [[NoDelayProbe]] in a
  * child JVM: the JDK reads the property once per JVM, at the first
  * HttpServer it creates, and the shared test JVM creates others (a mock
  * object store, the server specs) in suite order. */
class NoDelaySpec extends AnyFunSuite {

  /** Runs the probe with `props` as -D flags; returns its p50 (ms) and the
    * property's value after the server was created. */
  private def probe(props: String*): (Double, String) = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(java, "-Xmx64m", "-XX:-UsePerfData") ++ props.map("-D" + _) ++
      Seq("-cp", System.getProperty("java.class.path"), NoDelayProbe.getClass.getName.stripSuffix("$"))
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(60, TimeUnit.SECONDS) && p.exitValue() == 0, out)
    val line = out.linesIterator.find(_.startsWith("p50_ms=")).getOrElse(fail(out))
    val kv = line.split(" ").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    (kv("p50_ms").toDouble, kv("nodelay"))
  }

  test("the factory turns Nagle off: a fixed-length POST costs no ~40 ms delayed-ACK stall") {
    val (p50, nodelay) = probe()
    assert(nodelay === "true")
    assert(p50 < 20.0, s"p50 $p50 ms: responses still wait for the client's delayed ACK")
  }

  test("an operator's explicit -Dsun.net.httpserver.nodelay=false is kept as given") {
    val (_, nodelay) = probe(s"${GraftServer.NoDelayProperty}=false")
    assert(nodelay === "false")
  }
}

/** One server from [[GraftServer.httpServer]] with a handler that reads the
  * body and answers 600 bytes; 10 warm-up and 50 timed kept-alive POSTs of
  * 200 bytes in servebench's client shape (fixed-length streaming). Prints
  * `p50_ms=<ms> nodelay=<property value>`. */
object NoDelayProbe {
  def main(args: Array[String]): Unit = {
    val server = GraftServer.httpServer(0)
    val reply = Array.fill(600)('r'.toByte)
    server.createContext("/", ex => {
      ex.getRequestBody.readAllBytes()
      ex.sendResponseHeaders(200, reply.length)
      try ex.getResponseBody.write(reply) finally ex.close()
    })
    server.start()
    try {
      val url = URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/echo").toURL
      val body = Array.fill(200)('q'.toByte)
      def post(): Double = {
        val t0 = System.nanoTime()
        val c = url.openConnection().asInstanceOf[HttpURLConnection]
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        c.setFixedLengthStreamingMode(body.length)
        val os = c.getOutputStream
        try os.write(body) finally os.close()
        require(c.getResponseCode == 200)
        val in = c.getInputStream
        try in.readAllBytes() finally in.close()
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 10).foreach(_ => post())
      val ms = Array.fill(50)(post()).sorted
      println(s"p50_ms=${ms(25)} nodelay=${System.getProperty(GraftServer.NoDelayProperty)}")
    } finally server.stop(0)
  }
}
