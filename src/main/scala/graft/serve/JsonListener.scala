package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors}

/** The socket core shared by [[HttpServe]] and [[KgHttp]]: a loopback JDK
  * `HttpServer`, one `/` context, a 4-thread daemon pool and the JSON
  * response path; the listeners supply only routing and error mapping.
  * Every accepted connection runs with `TCP_NODELAY`: the JDK writes headers
  * and body separately, and under Nagle the body would wait ~40 ms for the
  * client's delayed ACK. The JDK reads `sun.net.httpserver.nodelay` once,
  * at the JVM's first `HttpServer.create`, so it is set before ours (README,
  * "Serving"). */
private[serve] object JsonListener {

  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Bind `127.0.0.1:port` (0 = ephemeral) and serve `route` on `/`.
    * `route` returns (status, JSON body); an exception it throws is mapped
    * by `errors` first, then malformed JSON → 400, anything else → 500. */
  def start(port: Int, threadName: String)(
      route: HttpExchange => (Int, String),
      errors: PartialFunction[Throwable, (Int, String)]): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val (status, out) = try route(ex) catch errors.orElse {
        case e: com.fasterxml.jackson.core.JacksonException =>
          (400, detail(s"malformed JSON body: ${e.getOriginalMessage}"))
        case e: Exception => (500, detail(e.getMessage))
      }
      val bytes = out.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, if (bytes.length == 0) -1 else bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    // daemon pool: worker threads can never pin the JVM open
    server.setExecutor(Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, threadName); t.setDaemon(true); t
    }))
    server.start()
    server
  }

  /** Stop the socket AND its executor pool: `HttpServer.stop` alone leaves a
    * user-supplied executor running, so start/stop cycles would leak it. */
  def stop(server: HttpServer): Unit = {
    server.stop(0)
    server.getExecutor match {
      case es: ExecutorService => es.shutdown()
      case _ =>
    }
  }

  /** The request path without its leading and trailing `/`. */
  def path(ex: HttpExchange): String =
    ex.getRequestURI.getPath.stripPrefix("/").stripSuffix("/")

  def body(ex: HttpExchange): String = new String(ex.getRequestBody.readAllBytes(), UTF_8)

  /** FastAPI-shaped error body `{"detail": msg}`. */
  def detail(msg: String): String = s"""{"detail":${Serve.str(String.valueOf(msg))}}"""
}
