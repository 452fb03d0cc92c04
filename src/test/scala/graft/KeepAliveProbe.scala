package graft

import java.io.{BufferedInputStream, ByteArrayOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.US_ASCII

/** A raw-socket HTTP/1.1 keep-alive client for the listeners' socket-path
  * regression tests. The client side runs with `TCP_NODELAY` and writes each
  * request in one piece, so any stall it measures is the server's. */
object KeepAliveProbe {

  /** Median round trip (ms) of `n` back-to-back `GET /` requests on one
    * connection to `127.0.0.1:port`; each response must be a 200. */
  def medianGetMs(port: Int, n: Int = 30): Double = {
    val sock = new Socket("127.0.0.1", port)
    try {
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(10000)
      val out = sock.getOutputStream
      val in = new BufferedInputStream(sock.getInputStream)
      val request = "GET / HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".getBytes(US_ASCII)
      val ms = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        out.write(request)
        out.flush()
        val head = readHead(in)
        require(head.startsWith("HTTP/1.1 200"), head)
        val length = head.linesIterator.collectFirst {
          case l if l.toLowerCase.startsWith("content-length:") => l.drop(15).trim.toInt
        }.getOrElse(sys.error(s"no Content-Length in: $head"))
        in.readNBytes(length)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      ms(n / 2)
    } finally sock.close()
  }

  /** Status line + headers, up to the blank line. */
  private def readHead(in: BufferedInputStream): String = {
    val buf = new ByteArrayOutputStream()
    var tail = 0
    while (tail != 0x0d0a0d0a) {
      val b = in.read()
      require(b >= 0, "connection closed mid-response")
      buf.write(b)
      tail = (tail << 8) | b
    }
    buf.toString(US_ASCII)
  }
}
