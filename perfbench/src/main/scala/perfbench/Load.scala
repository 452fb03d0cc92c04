package perfbench

import java.io.BufferedInputStream
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

/** One keep-alive HTTP/1.1 connection, as a well-behaved client uses it:
  * TCP_NODELAY, each request written in one piece, the response read by
  * its Content-Length. Not thread-safe; each load thread owns one. */
final class Client(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(60000)
  private val in = new BufferedInputStream(sock.getInputStream)
  private val out = sock.getOutputStream

  private def line(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n' && c != -1) { if (c != '\r') sb.append(c.toChar); c = in.read() }
    if (c == -1 && sb.isEmpty) throw new java.io.EOFException("connection closed")
    sb.toString
  }

  def post(path: String, body: String): (Int, String) = {
    val b = body.getBytes(UTF_8)
    val head = s"POST $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n"
    out.write(head.getBytes(UTF_8) ++ b)
    out.flush()
    val status = line().split(" ")(1).toInt
    var len = 0
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length")) len = h.substring(i + 1).trim.toInt
      h = line()
    }
    (status, new String(in.readNBytes(len), UTF_8))
  }

  def close(): Unit = sock.close()
}

object Load {

  /** Closed loop: each of `threads` clients sends its next request as soon
    * as the previous one answers, until `deadlineNs`. `step(client, i)`
    * performs request i of that client. */
  def closedLoop(threads: Seq[String], deadlineNs: Long)(step: (Int, Long) => Unit): Unit = {
    val ts = threads.zipWithIndex.map { case (name, c) =>
      val t = new Thread(() => {
        var i = 0L
        while (System.nanoTime() < deadlineNs) { step(c, i); i += 1 }
      }, name)
      t.setDaemon(true); t.start(); t
    }
    ts.foreach(_.join())
  }

  /** Open loop at `ratePerS` for `seconds` over at most `conns` concurrent
    * requests: request i is due at a fixed time; a free sender takes the
    * next index, waits for its due time and sends it. When every sender is
    * busy, due requests queue, and their latency still counts from the due
    * time. `send(c, i)` performs request i on connection c. */
  def openLoop(ratePerS: Double, seconds: Double, conns: Int)(send: (Int, Long) => Unit): Seq[Stats.Timing] = {
    val n = math.max(1L, math.round(ratePerS * seconds))
    val sched = Stats.Schedule(System.nanoTime() + 20000000L, ratePerS)
    val next = new AtomicLong(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Stats.Timing]()
    val ts = (0 until conns).map { c =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n) {
          val due = sched.dueNs(i)
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          send(c, i)
          out.add(Stats.Timing(due, now, System.nanoTime()))
          i = next.getAndIncrement()
        }
      }, s"open-loop-$c")
      t.setDaemon(true); t.start(); t
    }
    ts.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq.sortBy(_.dueNs)
  }
}
